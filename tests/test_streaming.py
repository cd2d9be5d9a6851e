"""Structured Streaming parity: the same SMT chain object runs on a stream;
watermarked dedup drops duplicates with bounded state."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from kafka_custom_transforms_spark import drop_fields, hoist_field, transform_chain
from kafka_custom_transforms_spark.sources.tables import load_table
from kafka_custom_transforms_spark.streaming.dedup import streaming_dedup
from kafka_custom_transforms_spark.streaming.envelope import (
    events_envelope,
    stream_events_envelope,
)


def _run_stream(df, name):
    q = df.writeStream.format("memory").queryName(name).trigger(availableNow=True).start()
    q.awaitTermination(120)


@pytest.fixture(scope="module")
def staged_events(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("staged_events"))
    load_table(spark, sf_dir, "events").limit(200).write.mode("overwrite").parquet(d + "/ev")
    yield d + "/ev"


def test_chain_identical_batch_vs_stream(spark, staged_events):
    chain = transform_chain(
        drop_fields(["k"], json_schema="k int"),
        hoist_field("payload"),
    )
    batch = chain(events_envelope(spark.read.parquet(staged_events)))
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(chain(stream_events_envelope(spark, staged_events)), name)
    got = {(r.offset, r.key, r.value) for r in spark.sql(f"select * from {name}").collect()}
    want = {(r.offset, r.key, r.value) for r in batch.collect()}
    assert got == want and len(got) == 200


def test_streaming_dedup_within_watermark(spark, staged_events):
    env = stream_events_envelope(spark, staged_events)
    # duplicate every record by unioning the stream with itself
    dup = env.union(env)
    deduped = streaming_dedup(dup, keys=["offset"], ts_col="ts", watermark_delay="1 hour")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(deduped, name)
    rows = spark.sql(f"select offset, count(*) c from {name} group by offset").collect()
    assert len(rows) == 200
    assert all(r.c == 1 for r in rows)


def test_streaming_dedup_batch_fallback(spark, staged_events):
    df = spark.read.parquet(staged_events)
    both = df.union(df)
    out = streaming_dedup(both, keys=["event_id"], ts_col="ts")
    assert out.count() == 200


def test_sessionize_batch_gap_semantics(spark):
    from kafka_custom_transforms_spark.streaming.dedup import sessionize
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),   # same session
        (1, base + dt.timedelta(minutes=50)),   # 40-min gap -> new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = sessionize(df, gap="30 minutes")
    got = sorted((r.user_id, r.n_events) for r in out.collect())
    assert got == [(1, 1), (1, 2), (2, 1)]


def test_sessionize_streaming_state_plumbing(spark, staged_events):
    """The applyInPandasWithState pipeline must run end-to-end on a stream
    (sessions only emit on timeout, so an availableNow pass emits nothing —
    this pins the state plumbing, not the emission)."""
    from kafka_custom_transforms_spark.sources.tables import load_table
    from kafka_custom_transforms_spark.streaming.dedup import sessionize

    batch = spark.read.parquet(staged_events)
    stream = spark.readStream.schema(batch.schema).parquet(staged_events)
    out = sessionize(stream, key_col="user_id", ts_col="ts", gap="30 minutes")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(out, name)
    assert spark.sql(f"select * from {name}").columns == [
        "user_id", "n_events", "first_ts", "last_ts",
    ]


def test_sessionize_streaming_honors_renamed_columns(spark, staged_events, tmp_path):
    """Non-default key_col/ts_col must flow through the stateful update
    function (regression: the update fn once read pdf['ts'] literally and
    hard-coded the user_id output schema)."""
    from kafka_custom_transforms_spark.streaming.dedup import sessionize, session_schema

    batch = spark.read.parquet(staged_events).withColumnRenamed("user_id", "uid") \
        .withColumnRenamed("ts", "event_ts")
    d = str(tmp_path)
    batch.write.mode("overwrite").parquet(d + "/renamed")
    stream = spark.readStream.schema(batch.schema).parquet(d + "/renamed")
    out = sessionize(stream, key_col="uid", ts_col="event_ts", gap="30 minutes")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(out, name)  # raises if the update fn still reads pdf["ts"]
    assert spark.sql(f"select * from {name}").columns == [
        "uid", "n_events", "first_ts", "last_ts",
    ]
    assert session_schema(batch, "uid").startswith("uid bigint")


def test_duration_parsing():
    from kafka_custom_transforms_spark.streaming.dedup import _duration_to_ms

    assert _duration_to_ms("500 milliseconds") == 500
    assert _duration_to_ms("30 minutes") == 1_800_000
    assert _duration_to_ms("1 day") == 86_400_000
    with pytest.raises(ValueError, match="unsupported duration"):
        _duration_to_ms("3 fortnights")
    with pytest.raises(ValueError, match="unsupported duration"):
        _duration_to_ms("soon")


def test_parquet_sink_exactly_once(spark, staged_events, tmp_path):
    from kafka_custom_transforms_spark.streaming.sinks import write_parquet_stream

    d = str(tmp_path)
    batch = spark.read.parquet(staged_events)
    stream = spark.readStream.schema(batch.schema).parquet(staged_events)
    q = write_parquet_stream(stream, d + "/out", d + "/ckpt")
    q.awaitTermination(120)
    assert spark.read.parquet(d + "/out").count() == 200
    # re-running against the same checkpoint must not duplicate rows
    stream2 = spark.readStream.schema(batch.schema).parquet(staged_events)
    q2 = write_parquet_stream(stream2, d + "/out", d + "/ckpt")
    q2.awaitTermination(120)
    assert spark.read.parquet(d + "/out").count() == 200


def test_foreach_batch_sink(spark, staged_events, tmp_path):
    from kafka_custom_transforms_spark.streaming.sinks import write_foreach_batch

    d = str(tmp_path)
    seen = []
    batch = spark.read.parquet(staged_events)
    stream = spark.readStream.schema(batch.schema).parquet(staged_events)
    q = write_foreach_batch(stream, lambda bdf, bid: seen.append((bid, bdf.count())), d + "/ckpt")
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 200


def test_windowed_counts_stream_matches_batch(spark, staged_events):
    from kafka_custom_transforms_spark.streaming.windows import windowed_counts

    batch_df = spark.read.parquet(staged_events)
    want = {
        (r.window_start_us, r.event_type, r.n)
        for r in windowed_counts(batch_df, keys=["event_type"], window="1 hour").collect()
    }
    stream = spark.readStream.schema(batch_df.schema).parquet(staged_events)
    out = windowed_counts(stream, keys=["event_type"], window="1 hour")
    name = "s" + uuid.uuid4().hex[:8]
    q = out.writeStream.format("memory").queryName(name).outputMode("complete") \
        .trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {
        (r.window_start_us, r.event_type, r.n)
        for r in spark.sql(f"select * from {name}").collect()
    }
    assert got == want and len(got) > 0


def test_mixture_sample_is_stream_legal(spark, staged_events):
    """mixture_sample is a stateless map-side filter, so it must run
    unchanged on a stream and select exactly the rows the batch run
    selects (same md5 key hash, no per-partition randomness)."""
    import uuid as _uuid

    from kafka_custom_transforms_spark.functions.sampling import mixture_sample

    rates = {"purchase": 300, "view": 500}
    batch = mixture_sample(
        spark.read.parquet(staged_events), "event_id", "event_type", rates
    )
    stream = mixture_sample(
        spark.readStream.schema(batch.schema).parquet(staged_events),
        "event_id",
        "event_type",
        rates,
    )
    name = "s" + _uuid.uuid4().hex[:8]
    _run_stream(stream, name)
    got = {r.event_id for r in spark.sql(f"select event_id from {name}").collect()}
    want = {r.event_id for r in batch.collect()}
    assert got == want and 0 < len(got) < 200


def test_upsert_parquet_sink_latest_per_key(spark, tmp_path):
    """MERGE-into-parquet via foreachBatch: stage user events as a file
    stream, upsert by user_id with event_id as the version — the final
    table holds exactly one row per user (the max-event_id row), and the
    pointer read never sees a partial write."""

    from pyspark.sql import Window, functions as F

    from kafka_custom_transforms_spark.sources.tables import load_table
    from kafka_custom_transforms_spark.streaming.sinks import (
        read_upsert_table,
        upsert_parquet_sink,
    )

    d = str(tmp_path)
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type"
    )
    # stage as several files so availableNow runs multiple merge batches
    ev.repartition(4).write.parquet(d + "/staged")
    stream = (
        spark.readStream.schema("event_id long, user_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/staged")
    )
    q = upsert_parquet_sink(
        stream, d + "/table", d + "/ckpt", keys=["user_id"], order_col="event_id"
    )
    q.awaitTermination()

    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in read_upsert_table(spark, d + "/table").collect()
    }
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    want = {
        r.user_id: (r.event_id, r.event_type)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want
    assert len(got) == ev.select("user_id").distinct().count()


def test_watermark_drops_late_rows_in_windowed_counts(spark, tmp_path):
    """Late-data semantics pinned end to end: a record behind the
    CHECKPOINTED watermark is dropped from the streamed windowed
    aggregation, and on-time windows emit exactly the batch counts.
    Run 1 aggregates the on-time data (watermark advances to max(ts) -
    delay and persists in the checkpoint); run 2 delivers a late record
    (behind that watermark -> dropped) plus a closer record that pushes
    the watermark past the on-time window end so it finally emits."""

    from pyspark.sql import functions as F

    from kafka_custom_transforms_spark.streaming.windows import windowed_counts

    d = str(tmp_path)

    def _stage(rows, sub):
        spark.createDataFrame(rows, "event_id long, ts_s string").select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts")
        ).coalesce(1).write.parquet(d + "/staged/" + sub)

    def _run():
        stream = (
            spark.readStream.schema("event_id long, ts timestamp")
            .parquet(d + "/staged/*")
        )
        q = (
            windowed_counts(stream, watermark_delay="10 minutes")
            .writeStream.format("parquet")
            .option("path", d + "/sink")
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            return spark.read.parquet(d + "/sink")
        except Exception:
            return None

    on_time = [(i, "2026-01-01 12:%02d:00" % (i % 60)) for i in range(20)]
    _stage(on_time, "a")
    _run()  # watermark now 12:59 - 10min = 12:49, persisted in ckpt

    # late: hours behind the committed watermark; closer: advances the
    # watermark past the on-time window end (13:00) so it can emit
    _stage([(999, "2026-01-01 08:00:00")], "b")
    _stage([(1000, "2026-01-01 14:00:00")], "c")
    got = set()
    for _ in range(4):  # emit may need one extra (no-new-data) batch
        sink = _run()
        got = (
            set()
            if sink is None
            else {(r.window_start_us, r.n) for r in sink.collect()}
        )
        if got:
            break

    on_time_batch = spark.createDataFrame(
        on_time, "event_id long, ts_s string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"))
    want = {
        (r.window_start_us, r.n) for r in windowed_counts(on_time_batch).collect()
    }
    assert got == want  # on-time window emitted with the full batch count
    # the late record influenced nothing: its window never appears
    late_start = int(
        spark.sql(
            "select unix_micros(timestamp'2026-01-01 08:00:00') as u"
        ).collect()[0].u
    )
    assert late_start not in {w for w, _ in got}


def test_sessionize_streaming_late_event_does_not_regress_session_end(spark):
    """An in-watermark late event from a LATER batch must extend the open
    session's bounds (min/max), not overwrite last_ts — overwriting made
    the next gap decision measure from the late event and emitted
    sessions with last_ts < first_ts (regression test)."""
    from kafka_custom_transforms_spark.streaming.dedup import sessionize

    stream = _staged_session_stream(
        spark,
        [
            [(7, "2024-01-01 12:00:00")],
            # late (11:55 > watermark 11:50) + on-time continuation in one batch
            [(7, "2024-01-01 11:55:00"), (7, "2024-01-01 12:26:00")],
            # sentinel advances the watermark far past 12:26 + gap -> timeout fires
            [(99, "2024-01-01 20:00:00")],
        ],
    )
    out = sessionize(stream, gap="30 minutes", watermark_delay="10 minutes")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(out, name)
    rows = [
        r
        for r in spark.sql(f"select * from {name}").collect()
        if r["user_id"] == 7
    ]
    assert len(rows) == 1, rows
    r = rows[0]
    assert r["n_events"] == 3
    assert str(r["first_ts"]) == "2024-01-01 11:55:00"
    assert str(r["last_ts"]) == "2024-01-01 12:26:00"


def test_upsert_sink_survives_pointer_dir_collision(spark, tmp_path):
    """Crash-replay/redeploy shape: a second run with a FRESH checkpoint
    replays batch ids whose versioned dirs already exist (and the pointer
    may name v{batch_id} itself). The sink must pick a fresh directory —
    writing into the dir the lazy merge plan reads from either aborts the
    stream or truncates the table (regression test)."""
    from kafka_custom_transforms_spark.streaming.sinks import (
        read_upsert_table,
        upsert_parquet_sink,
    )

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 11)], "k long, v string, seq long"
    ).coalesce(1).write.parquet(d + "/in/f0")
    src = spark.readStream.schema("k long, v string, seq long").parquet(d + "/in/*")
    q = upsert_parquet_sink(src, d + "/table", d + "/ckpt1", keys=["k"], order_col="seq")
    q.awaitTermination()
    # same source replayed under a NEW checkpoint: batch 0 again
    src2 = spark.readStream.schema("k long, v string, seq long").parquet(d + "/in/*")
    q2 = upsert_parquet_sink(src2, d + "/table", d + "/ckpt2", keys=["k"], order_col="seq")
    q2.awaitTermination()
    rows = sorted(map(tuple, read_upsert_table(spark, d + "/table").collect()))
    assert rows == [(1, "a", 10), (2, "b", 11)]


def test_stream_full_outer_interval_matches_batch_full_join(spark, sf_dir):
    """The r10 FULL OUTER stream-stream interval row (bucketized join +
    batch read-back reconciliation of the click side's bucket-copy
    artifacts) must equal the plain batch full-outer range join exactly:
    matched pairs, null-padded purchases, and null-padded clicks."""
    import __spark_entry__ as entry_mod

    got = entry_mod.queries()["stream_full_outer_interval"](spark, sf_dir)
    key = lambda t: (t[0] is None, t[0] or 0, t[1] is None, t[1] or 0)  # noqa: E731
    got_rows = sorted(((r.p_id, r.c_id) for r in got.collect()), key=key)

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    ref = p.join(
        c, F.expr("c_ts between p_ts - interval 60 seconds and p_ts"), "fullOuter"
    )
    ref_rows = sorted(((r.p_id, r.c_id) for r in ref.collect()), key=key)
    assert got_rows == ref_rows
    assert any(a is None for a, _ in got_rows)  # unmatched clicks present
    assert any(b is None for _, b in got_rows)  # unmatched purchases present


def _staged_session_stream(spark, batches):
    """One micro-batch per entry of ``batches``, in order."""
    import __spark_entry__ as entry_mod

    frames = [
        spark.createDataFrame(rows, "user_id long, ts string")
        .selectExpr("user_id", "cast(ts as timestamp) as ts")
        .coalesce(1)
        for rows in batches
    ]
    return entry_mod._staged_stream(*frames, max_files_per_trigger=1)


def test_sessionize_late_bridge_event_merges_formed_sessions(spark):
    """The defining late-data scenario, minimal: batch 1 forms two
    gap-split sessions (00:00 and 00:50, gap 30m); batch 2 delivers a
    LATE bridge event at 00:25 — within gap of BOTH. The streaming
    sessionizer must collapse them into ONE 3-event session; emitting
    batch-internal gap splits immediately would already have emitted the
    first session and fragment (append mode cannot retract, which is why
    the sessionizer holds every session until the watermark passes it)."""
    from kafka_custom_transforms_spark.streaming.dedup import sessionize

    stream = _staged_session_stream(
        spark,
        [
            [(7, "2024-01-01 00:00:00"), (7, "2024-01-01 00:50:00")],
            [(7, "2024-01-01 00:25:00")],  # late bridge
            [(99, "2024-01-01 09:00:00")],  # sentinel: watermark past all
        ],
    )
    out = sessionize(stream, gap="30 minutes", watermark_delay="3 hours")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(out, name)
    rows = [r for r in spark.sql(f"select * from {name}").collect() if r["user_id"] == 7]
    assert len(rows) == 1, rows
    assert rows[0]["n_events"] == 3
    assert str(rows[0]["first_ts"]) == "2024-01-01 00:00:00"
    assert str(rows[0]["last_ts"]) == "2024-01-01 00:50:00"


def test_sessionize_late_partial_emission_rearms_timeout(spark):
    """The held-sessions branch: a mid-stream watermark advance finalizes
    only the OLDER of two held sessions (last+gap <= watermark), and the
    re-armed timeout must emit the younger one when the watermark finally
    passes it. Exercises the _rearm path the all-at-once sentinel
    scenarios never hit."""
    from kafka_custom_transforms_spark.streaming.dedup import sessionize

    # gap 30m, delay 10m. Watermark during batch N = (max ts through
    # batch N-1) - delay; a timeout fires when that watermark passes its
    # armed timestamp. Timeline:
    #   B1: sessions S1 (last 00:00, due 00:30) and S2 (last 03:00, due
    #       03:30) enter state; wm after B1 = 02:50; timeout re-clamped
    #       to wm+1 (Spark rejects timeouts behind the watermark).
    #   B2 (8 @ 03:20): wm during B2 = 02:50 — not past 02:50+1ms, no
    #       fire; wm after B2 = 03:10.
    #   B3 (8 @ 03:45): wm during B3 = 03:10 > the armed 02:50+1ms — key
    #       7 times out: S1 due (00:30 <= 03:10), S2 HELD (03:30 >
    #       03:10) -> the _rearm branch runs, timeout re-armed at 03:30;
    #       wm after B3 = 03:35.
    #   B4 (sentinel): wm 03:35 > 03:30 -> S2 emits.
    stream = _staged_session_stream(
        spark,
        [
            [(7, "2024-01-01 00:00:00"), (7, "2024-01-01 03:00:00")],
            [(8, "2024-01-01 03:20:00")],
            [(8, "2024-01-01 03:45:00")],
            [(99, "2024-01-01 12:00:00")],
        ],
    )
    out = sessionize(stream, gap="30 minutes", watermark_delay="10 minutes")
    name = "s" + uuid.uuid4().hex[:8]
    _run_stream(out, name)
    rows = sorted(
        (r for r in spark.sql(f"select * from {name}").collect() if r["user_id"] == 7),
        key=lambda r: str(r["first_ts"]),
    )
    assert [r["n_events"] for r in rows] == [1, 1]
    assert str(rows[0]["first_ts"]) == "2024-01-01 00:00:00"
    assert str(rows[1]["first_ts"]) == "2024-01-01 03:00:00"


def test_merge_session_event_is_order_independent_and_matches_gap_split():
    """Hypothesis pin of the streaming sessionize state algebra: folding ANY
    permutation of an event set through _merge_session_event yields
    exactly the batch gap-split partition (counts, bounds) — the
    invariant that makes late/out-of-order arrival safe. Pure Python, so
    hundreds of examples cost nothing (the streaming scenarios above pin
    the plumbing; this pins the math)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from kafka_custom_transforms_spark.streaming.dedup import _merge_session_event

    GAP = 30

    def gap_split(ts_sorted):
        out = []
        for t in ts_sorted:
            if out and t - out[-1][2] <= GAP:
                out[-1][0] += 1
                out[-1][2] = t
            else:
                out.append([1, t, t])
        return sorted((tuple(s) for s in out), key=lambda s: s[1])

    @settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        ts=st.lists(st.integers(min_value=0, max_value=600), min_size=1, max_size=40),
        seed=st.randoms(use_true_random=False),
    )
    def prop(ts, seed):
        order = list(ts)
        seed.shuffle(order)
        sessions = []
        for t in order:
            sessions = _merge_session_event(sessions, t, GAP)
        got = sorted((tuple(s) for s in sessions), key=lambda s: s[1])
        assert got == gap_split(sorted(ts))

    prop()


def test_sessionize_late_boundary_event_semantics_are_drop_not_fragment(spark):
    """The r14-advice boundary (an event at exactly t = last+gap landing
    as the watermark crosses that horizon) pinned END TO END, both ways
    the one-batch filter lag can fall:

    - 5-batch timeline: the watermark reaches the horizon (00:30) one
      batch BEFORE the boundary event arrives, so Spark's own late-row
      filter (which lags the emission watermark by one batch) drops the
      event — standard too-late semantics. The session must stay WHOLE
      (one 1-event session, no fragment row for the dropped event).
    - 4-batch timeline: the boundary event arrives in the same batch the
      watermark first reads 00:30, so the lagged filter (still 23:50)
      ADMITS it; with strict finalization the held session absorbs it —
      ONE 2-event session.

    Either way the output equals the batch gap-split of the ADMITTED
    event set; what the strict `last+gap < wm` finalization
    (_partition_finalizable) guarantees is that no admitted event can
    ever find its session already emitted."""
    from kafka_custom_transforms_spark.streaming.dedup import sessionize

    for batches, want in [
        (
            [
                [(7, "2024-01-01 00:00:00")],
                [(8, "2024-01-01 00:40:00")],   # wm -> 00:30 == horizon
                [(8, "2024-01-01 00:40:00")],   # lagged filter now 00:30
                [(7, "2024-01-01 00:30:00")],   # boundary event: DROPPED
                [(99, "2024-01-01 09:00:00")],
            ],
            [(1, "2024-01-01 00:00:00", "2024-01-01 00:00:00")],
        ),
        (
            [
                [(7, "2024-01-01 00:00:00")],
                [(8, "2024-01-01 00:40:00")],
                [(7, "2024-01-01 00:30:00")],   # lagged filter 23:50: ADMITTED
                [(99, "2024-01-01 09:00:00")],
            ],
            [(2, "2024-01-01 00:00:00", "2024-01-01 00:30:00")],
        ),
    ]:
        stream = _staged_session_stream(spark, batches)
        out = sessionize(stream, gap="30 minutes", watermark_delay="10 minutes")
        name = "s" + uuid.uuid4().hex[:8]
        _run_stream(out, name)
        rows = sorted(
            (r for r in spark.sql(f"select * from {name}").collect()
             if r["user_id"] == 7),
            key=lambda r: str(r["first_ts"]),
        )
        got = [(r["n_events"], str(r["first_ts"]), str(r["last_ts"])) for r in rows]
        assert got == want, (got, want)


def test_finalization_horizon_excludes_merge_window():
    """Unit pin of the r14-advice fix: _partition_finalizable and
    _merge_session_event must be mutually exclusive — a session the
    watermark finalizes can admit NO event that the (inclusive) merge
    window would still connect and the watermark would still accept.
    Exhaustive over a grid of watermarks around the horizon."""
    from kafka_custom_transforms_spark.streaming.dedup import (
        _merge_session_event,
        _partition_finalizable,
    )

    GAP = 30
    s = [1, 100, 120]  # horizon = 150
    for wm in range(100, 200):
        due, held = _partition_finalizable([s], wm, GAP)
        assert [s] == due + held
        if due:
            # every event the merge window still connects (t <= 150) is
            # strictly behind this watermark -> watermark-dropped before
            # it could ever look for the emitted session
            assert s[2] + GAP < wm
            merged = _merge_session_event([list(s)], s[2] + GAP, GAP)
            assert len(merged) == 1  # the merge window is inclusive...
            assert s[2] + GAP < wm   # ...and lies fully behind wm
        else:
            assert s[2] + GAP >= wm
    # boundary case the pre-fix code got wrong: wm exactly at horizon
    due, held = _partition_finalizable([s], s[2] + GAP, GAP)
    assert due == [] and held == [s]
