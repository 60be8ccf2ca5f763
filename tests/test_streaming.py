"""Streaming parity tests — the reference's methodology (stream vs
batch comparison, comparision.sql) automated: run the availableNow
file-stream pipeline over sf0.001 events and assert the streaming
sinks equal the batch-computed analytics."""

import pyspark.sql.functions as F
import pytest

from dbt_project_spark.sources import load_table
from dbt_project_spark.streaming import (
    join_metric_streams,
    run_file_stream_pipeline,
    split_event_streams,
    synthetic_rate_stream,
)
from dbt_project_spark.streaming.pipeline import micro_batch_analytics
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_join_metric_streams_batch_semantics(spark, events):
    pv, sd, tp = split_event_streams(events)
    joined = join_metric_streams(pv, sd, tp)
    assert joined.count() == events.count()  # keys unique → lossless join
    row = joined.orderBy("record_id").first()
    expected = 0.4 * row["page_views"] + 0.3 * row["session_duration"] + 0.3 * row["time_on_page"]
    assert row["engagement_score"] == pytest.approx(expected)


def test_file_stream_pipeline_matches_batch(spark, events, tmp_path):
    src = str(tmp_path / "src")
    events.write.parquet(src)

    sinks = run_file_stream_pipeline(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )

    # batch-side ground truth through the same operators
    pv, sd, tp = split_event_streams(events)
    batch = micro_batch_analytics(join_metric_streams(pv, sd, tp))

    for name, path in sinks.items():
        got = spark.read.parquet(path)
        want = batch[name]
        assert got.count() == want.count(), name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_file_stream_pipeline_leaves_no_cached_batch(spark, events, tmp_path):
    """The pipeline releases the micro-batch it persisted once its
    availableNow query stops: no cached blocks outlive the run."""
    src = str(tmp_path / "src")
    events.write.parquet(src)
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    run_file_stream_pipeline(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )

    assert cache.isEmpty()


def test_micro_batch_analytics_runs_stateful_join_once(spark, events, tmp_path):
    """Writing all five outputs of one micro-batch runs the stateful
    3-way join once: each of the two stream-stream joins adds every
    input row of both its sides to state once, so a batch of N complete
    records updates 4N state rows (an unpersisted batch re-runs the join
    per output and reports about 5x that). The batch the previous call
    persisted is released by the next call."""
    from pyspark import StorageLevel

    src = str(tmp_path / "src")
    out_dir = tmp_path / "out"
    # two files in event-time order → two data micro-batches, none late
    ts = sorted(r.ts for r in events.select("ts").collect())
    mid = F.lit(ts[len(ts) // 2])
    early, late = events.filter(F.col("ts") < mid), events.filter(F.col("ts") >= mid)
    early.coalesce(1).write.parquet(src)
    late.coalesce(1).write.mode("append").parquet(src)
    sizes = [early.count(), late.count()]

    raw = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    joined = join_metric_streams(*split_event_streams(raw))

    frames, prev_cached, own_cached = [], [], []

    def process_batch(batch_df, epoch_id):
        for name, out in micro_batch_analytics(batch_df).items():
            out.write.mode("append").parquet(str(out_dir / name))
        own_cached.append(batch_df.storageLevel != StorageLevel.NONE)
        if frames:
            prev_cached.append(frames[-1].storageLevel != StorageLevel.NONE)
        frames.append(batch_df)

    q = (
        joined.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(process_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    updated = {
        p.batchId: sum(op.numRowsUpdated for op in p.stateOperators)
        for p in q.recentProgress
    }
    assert [updated[b] for b in (0, 1)] == [4 * n for n in sizes]
    assert sum(updated.values()) == 4 * sum(sizes)
    assert all(own_cached) and len(own_cached) >= 2
    assert prev_cached and not any(prev_cached)


def test_synthetic_rate_stream_schema(spark):
    df = synthetic_rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "record_id", "ts", "page_views", "session_duration", "time_on_page",
    ]


def test_streaming_windowed_agg_availablenow(spark, events, tmp_path):
    """Watermarked windowed aggregation on a real stream equals batch."""
    src = str(tmp_path / "src2")
    events.write.parquet(src)
    raw = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("win_agg").selectExpr(
        "window.start AS ws", "event_type", "n"
    )
    want = events.groupBy(
        F.window("ts", "5 minutes").start.alias("ws"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_update_mode_distribution_matches_batch(spark, events, tmp_path):
    """Update-mode pct-of-window: every emitted version must be a
    correctly normalized distribution (per-window pct sums to 100),
    multiple triggers must actually fire (maxFilesPerTrigger=1), and
    the final emitted state must equal the batch operator exactly —
    the reference's stream-vs-batch accuracy methodology
    (comparision.sql:25-41) applied per emit, not just at the end."""
    from dbt_project_spark.operators.windows import windowed_count_distribution
    from dbt_project_spark.streaming.update_dist import (
        read_current_distribution,
        run_update_distribution,
    )

    src = str(tmp_path / "src")
    # 4 time-ranged files → 4 triggers, arriving roughly in time order
    events.repartitionByRange(4, "ts").write.parquet(src)

    run_update_distribution(
        spark,
        src,
        state_dir=str(tmp_path / "state"),
        out_dir=str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        width_sec=300,
        key_col="event_type",
        # files are only approximately time-ordered; an unbounded
        # watermark keeps every event (update mode does not require
        # eviction for correctness — documented state-size tradeoff)
        watermark="3650 days",
    )

    out_dir = tmp_path / "out"
    versions = sorted(int(d.name[1:]) for d in out_dir.iterdir())
    assert len(versions) > 1, "maxFilesPerTrigger=1 should yield multiple emits"

    # every emit is a valid distribution
    for v in versions:
        emitted = spark.read.parquet(str(out_dir / f"v{v}"))
        sums = (
            emitted.groupBy("window_start")
            .agg(F.round(F.sum("percentage"), 0).alias("s"))
            .collect()
        )
        assert all(abs(r["s"] - 100.0) < 1e-9 for r in sums), f"v{v} not normalized"

    # final emit == batch operator on the full data
    final = read_current_distribution(spark, str(out_dir))
    want = windowed_count_distribution(events, "ts", 300, ["event_type"])
    assert final.count() == want.count()
    assert final.exceptAll(want).count() == 0
    assert want.exceptAll(final).count() == 0


def test_streaming_session_window_matches_batch(spark, events, tmp_path):
    """F.session_window is a streaming-valid merging-window aggregate.
    Append mode emits a session only once the watermark passes its
    end, so with a 0s watermark (single trigger → no late drops) the
    streamed output must equal exactly the batch sessions that CLOSE
    before the final watermark (= max event time); each user's
    still-open tail session stays in state."""
    src = str(tmp_path / "src")
    events.write.parquet(src)
    raw = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    if dict(raw.dtypes).get("ts") == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    def agg(df):
        return (
            df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", "sw.start", "sw.end", "n_events")
        )

    q = (
        agg(raw.withWatermark("ts", "0 seconds"))
        .writeStream.format("memory")
        .queryName("sessions_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("sessions_stream")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    want = agg(events).filter(F.col("end") <= F.lit(max_ts))
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_stream_interval_join_matches_batch(spark, events, tmp_path):
    """Stream-stream INTERVAL join: purchases joined to each user's
    clicks within the preceding 30 minutes (event-time range
    condition). Watermarks on both sides bound the buffered state —
    Spark keeps only rows inside watermark + interval, which is what
    makes an unbounded stream-stream join feasible at all. Parity:
    the availableNow streaming result equals the equivalent batch
    range join."""
    src = str(tmp_path / "ivsrc")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def prep(df, prefix):
        ts = F.col("ts")
        if dict(df.dtypes).get("ts") == "bigint":
            ts = F.timestamp_micros(F.expr("ts div 1000"))
        return df.select(
            F.col("user_id").alias(f"{prefix}_user"),
            ts.alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
            "event_type",
        )

    def interval_join(clicks, purchases):
        return purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES")),
        ).select("p_user", "p_id", "c_id")

    raw = spark.readStream.schema(schema).parquet(src)
    clicks_s = prep(raw, "c").filter(F.col("event_type") == "click").drop(
        "event_type"
    ).withWatermark("c_ts", "1 hour")
    purch_s = prep(raw, "p").filter(F.col("event_type") == "purchase").drop(
        "event_type"
    ).withWatermark("p_ts", "1 hour")

    q = (
        interval_join(clicks_s, purch_s)
        .writeStream.format("memory")
        .queryName("iv_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ivckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("iv_join")

    batch = spark.read.parquet(src).filter("event_id < 10000000")
    clicks_b = prep(batch, "c").filter(F.col("event_type") == "click").drop(
        "event_type"
    )
    purch_b = prep(batch, "p").filter(F.col("event_type") == "purchase").drop(
        "event_type"
    )
    want = interval_join(clicks_b, purch_b)

    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_static_join_matches_batch(spark, events, tmp_path):
    """Stream–static (dimension-enrichment) join: each micro-batch
    joins against a static dim — Spark re-broadcasts the small static
    side per batch, no state store involved (unlike stream-stream).
    Parity: streamed result == the same join run in batch."""
    src = str(tmp_path / "ss_src")
    out = str(tmp_path / "ss_out")
    ckpt = str(tmp_path / "ss_ckpt")
    events.write.parquet(src)

    static_dim = (
        events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .withColumn(
            "type_class",
            F.when(F.col("n_users") >= 10, "broad").otherwise("narrow"),
        )
    )

    stream = spark.readStream.schema(events.schema).parquet(src)
    enriched = stream.join(F.broadcast(static_dim), on="event_type").select(
        "event_id", "event_type", "type_class", "n_users"
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    want = events.join(F.broadcast(static_dim), on="event_type").select(
        "event_id", "event_type", "type_class", "n_users"
    )
    assert got.count() == events.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_stream_stream_left_outer_join_emits_unmatched(spark, events, tmp_path):
    """Stream-stream LEFT OUTER interval join: purchases with no click
    in the preceding 30 minutes must still emit (null click columns)
    once the watermark passes their event time — the state-eviction
    semantics that make outer stream joins possible. Parity is
    watermark-aware: matched rows equal the batch inner join exactly;
    null-extended rows appear for every purchase comfortably below
    the final watermark minus the join interval (Spark's left-side
    eviction bound is conservative by the interval length; rows in
    that boundary band are excluded from the must-emit assertion).
    """
    src = str(tmp_path / "lo_src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def prep(df, prefix):
        return df.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
            "event_type",
        )

    cond = (
        "p_user = c_user AND c_ts <= p_ts "
        "AND c_ts >= p_ts - INTERVAL 30 MINUTES"
    )

    raw = spark.readStream.schema(schema).parquet(src)
    clicks_s = (
        prep(raw, "c").filter(F.col("event_type") == "click")
        .drop("event_type").withWatermark("c_ts", "10 minutes")
    )
    purch_s = (
        prep(raw, "p").filter(F.col("event_type") == "purchase")
        .drop("event_type").withWatermark("p_ts", "10 minutes")
    )
    def run_stream():
        raw_s = spark.readStream.schema(schema).parquet(src)
        c_s = (
            prep(raw_s, "c").filter(F.col("event_type") == "click")
            .drop("event_type").withWatermark("c_ts", "10 minutes")
        )
        p_s = (
            prep(raw_s, "p").filter(F.col("event_type") == "purchase")
            .drop("event_type").withWatermark("p_ts", "10 minutes")
        )
        q = (
            p_s.join(c_s, F.expr(cond), "leftOuter")
            .select("p_user", "p_id", "p_ts", "c_id")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "lo_out"))
            .option("checkpointLocation", str(tmp_path / "lo_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()

    # availableNow never runs a batch AFTER the last data batch, so
    # outer state younger than the penultimate watermark is still
    # buffered when the query stops. Nudge the watermark: append one
    # far-future click for a nonexistent user and RESUME from the
    # checkpoint — the second run's watermark evicts and emits every
    # remaining unmatched purchase.
    batch0 = spark.read.parquet(src)
    far = batch0.agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    ).collect()[0].ts
    # one nudge per side: the join watermark is min(left, right), so
    # BOTH event-time columns must advance for full eviction
    nudge = spark.createDataFrame(
        [
            (10_000_000, far, -1, "click", 0.0, "{}"),
            (10_000_001, far, -1, "purchase", 0.0, "{}"),
        ],
        schema,
    )
    nudge.write.mode("append").parquet(src)
    run_stream()
    got = spark.read.parquet(str(tmp_path / "lo_out")).filter(
        "p_id < 10000000"
    )

    batch = spark.read.parquet(src).filter("event_id < 10000000")
    clicks_b = prep(batch, "c").filter(F.col("event_type") == "click").drop(
        "event_type"
    )
    purch_b = prep(batch, "p").filter(F.col("event_type") == "purchase").drop(
        "event_type"
    )
    want = purch_b.join(clicks_b, F.expr(cond), "leftOuter").select(
        "p_user", "p_id", "p_ts", "c_id"
    )

    # matched rows: exact parity with the batch join
    got_m = got.filter(F.col("c_id").isNotNull())
    want_m = want.filter(F.col("c_id").isNotNull())
    assert got_m.count() == want_m.count() > 0
    assert got_m.exceptAll(want_m).count() == 0

    # null-extension rows: after the watermark nudge, exactly the
    # batch left-join nulls must have emitted
    got_nulls = {
        (r.p_user, r.p_id) for r in got.filter(F.col("c_id").isNull()).collect()
    }
    want_nulls_all = {
        (r.p_user, r.p_id)
        for r in want.filter(F.col("c_id").isNull()).collect()
    }
    assert got_nulls == want_nulls_all
    assert len(got_nulls) > 0


def test_stream_stream_full_outer_join_emits_both_sides(
    spark, events, tmp_path
):
    """Stream-stream FULL OUTER interval join — completes the join-mode
    matrix (inner / left outer / full outer): BOTH unmatched purchases
    (no click in the preceding 30 min) and unmatched clicks (no
    purchase in the following 30 min) must null-extend once the
    watermark passes their eviction bound. Same two-run checkpoint-
    resume watermark nudge as the left-outer test; parity target is
    the batch full outer join on the same data.
    """
    src = str(tmp_path / "fo_src")
    events.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def prep(df, prefix):
        return df.select(
            F.col("user_id").alias(f"{prefix}_user"),
            F.col("ts").alias(f"{prefix}_ts"),
            F.col("event_id").alias(f"{prefix}_id"),
            "event_type",
        )

    cond = (
        "p_user = c_user AND c_ts <= p_ts "
        "AND c_ts >= p_ts - INTERVAL 30 MINUTES"
    )

    def run_stream():
        raw_s = spark.readStream.schema(schema).parquet(src)
        c_s = (
            prep(raw_s, "c").filter(F.col("event_type") == "click")
            .drop("event_type").withWatermark("c_ts", "10 minutes")
        )
        p_s = (
            prep(raw_s, "p").filter(F.col("event_type") == "purchase")
            .drop("event_type").withWatermark("p_ts", "10 minutes")
        )
        q = (
            p_s.join(c_s, F.expr(cond), "fullOuter")
            .select("p_user", "p_id", "c_user", "c_id")
            .writeStream.format("parquet")
            .outputMode("append")
            .option("path", str(tmp_path / "fo_out"))
            .option("checkpointLocation", str(tmp_path / "fo_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    batch0 = spark.read.parquet(src)
    far = batch0.agg(
        (F.max("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    ).collect()[0].ts
    nudge = spark.createDataFrame(
        [
            (10_000_000, far, -1, "click", 0.0, "{}"),
            (10_000_001, far, -1, "purchase", 0.0, "{}"),
        ],
        schema,
    )
    nudge.write.mode("append").parquet(src)
    run_stream()
    got = spark.read.parquet(str(tmp_path / "fo_out")).filter(
        "(p_id IS NULL OR p_id < 10000000)"
        " AND (c_id IS NULL OR c_id < 10000000)"
    )

    batch = spark.read.parquet(src).filter("event_id < 10000000")
    clicks_b = prep(batch, "c").filter(F.col("event_type") == "click").drop(
        "event_type"
    )
    purch_b = prep(batch, "p").filter(F.col("event_type") == "purchase").drop(
        "event_type"
    )
    want = purch_b.join(clicks_b, F.expr(cond), "fullOuter").select(
        "p_user", "p_id", "c_user", "c_id"
    )

    # matched rows: exact parity
    got_m = got.filter(F.col("p_id").isNotNull() & F.col("c_id").isNotNull())
    want_m = want.filter(
        F.col("p_id").isNotNull() & F.col("c_id").isNotNull()
    )
    assert got_m.count() == want_m.count() > 0
    assert got_m.exceptAll(want_m).count() == 0

    # purchase-side null extensions
    got_p = {
        (r.p_user, r.p_id)
        for r in got.filter(F.col("c_id").isNull()).collect()
    }
    want_p = {
        (r.p_user, r.p_id)
        for r in want.filter(F.col("c_id").isNull()).collect()
    }
    assert got_p == want_p and len(got_p) > 0

    # click-side null extensions — the half LEFT OUTER can't produce
    got_c = {
        (r.c_user, r.c_id)
        for r in got.filter(F.col("p_id").isNull()).collect()
    }
    want_c = {
        (r.c_user, r.c_id)
        for r in want.filter(F.col("p_id").isNull()).collect()
    }
    assert got_c == want_c and len(got_c) > 0
