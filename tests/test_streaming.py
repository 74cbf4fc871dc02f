"""Streaming semantics: the streaming windowed counts over the bounded
events source must equal the equivalent batch aggregation (Spark's
streaming/batch unification), and sessionization invariants hold."""

from __future__ import annotations

from pyspark.sql import functions as F

from machine_learning_algorithm_sparkml__spark.operators.sessions import sessionize
from machine_learning_algorithm_sparkml__spark.sources import load_table
from machine_learning_algorithm_sparkml__spark.streaming import run_streaming_window_counts


def test_streaming_counts_equal_batch(spark, sf_dir):
    stream_result = run_streaming_window_counts(spark, sf_dir, window_duration="1 hour")
    events = load_table(spark, sf_dir, "events")
    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    s = sorted(map(tuple, stream_result.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_streaming_counts_total_matches_events(spark, sf_dir):
    result = run_streaming_window_counts(spark, sf_dir)
    total = result.agg(F.sum("n_events")).collect()[0][0]
    assert total == load_table(spark, sf_dir, "events").count()


def test_sessionize_invariants(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, gap_minutes=30).cache()
    assert s.count() == events.count()
    # session ids are dense 0..max per user
    per_user = s.groupBy("user_id").agg(
        F.min("session_id").alias("lo"),
        F.max("session_id").alias("hi"),
        F.countDistinct("session_id").alias("n"),
    )
    bad = per_user.filter((F.col("lo") != 0) | (F.col("n") != F.col("hi") + 1))
    assert bad.count() == 0
    s.unpersist()


def test_sessionize_gap_splits(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00"),
        (2, 100, "2024-01-01 00:10:00"),
        (3, 100, "2024-01-01 01:00:00"),   # 50 min gap -> new session
        (4, 200, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    )
    out = {r.event_id: r.session_id for r in sessionize(df, gap_minutes=30).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 0}


def test_streaming_session_window_equals_batch(spark, sf_dir):
    """Complete-mode session windows over the bounded stream equal the
    batch session_window aggregation (streaming/batch unification)."""
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_session_windows,
    )

    stream_result = run_streaming_session_windows(spark, sf_dir, gap="30 minutes")
    events = load_table(spark, sf_dir, "events")
    batch = (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    s = sorted(map(tuple, stream_result.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert s == b


def test_streaming_dedup_restores_uniqueness(spark, sf_dir):
    """Doubled stream -> dropDuplicatesWithinWatermark -> one row per
    event_id, matching the original table exactly."""
    from machine_learning_algorithm_sparkml__spark.streaming import run_streaming_dedup

    result = run_streaming_dedup(spark, sf_dir)
    n_events = load_table(spark, sf_dir, "events").count()
    assert result.count() == n_events
    assert result.select("event_id").distinct().count() == n_events


def test_timeseries_gapfill_grid_is_dense(spark, sf_dir):
    """The per-user grid has no holes: row count per user equals the
    hour span + 1; gap rows carry n_events=0 and a non-null
    carried-forward value (first grid hour always has an event)."""
    from pyspark.sql import functions as F
    from machine_learning_algorithm_sparkml__spark.workload.streaming import (
        q_timeseries_gapfill,
    )

    out = q_timeseries_gapfill(spark, sf_dir)
    per_user = out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        ((F.max("hour_ts").cast("long") - F.min("hour_ts").cast("long")) / 3600 + 1).alias("span_hours"),
        F.sum(F.col("vmax_ff").isNull().cast("int")).alias("n_null_ff"),
        F.min((F.col("n_events") >= 0).cast("int")).alias("nonneg"),
    )
    bad = per_user.filter(
        (F.col("n_rows") != F.col("span_hours")) | (F.col("n_null_ff") > 0) | (F.col("nonneg") != 1)
    )
    assert bad.count() == 0, bad.limit(5).collect()


def test_stream_stream_join_time_bounds(spark, sf_dir):
    """Every emitted pair respects the (0, 30 min] lag bound and joins
    the same user's events."""
    from machine_learning_algorithm_sparkml__spark.workload.streaming import (
        q_stream_stream_join,
    )

    rows = q_stream_stream_join(spark, sf_dir).collect()
    for r in rows:
        assert 0 < r["lag_us"] <= 30 * 60 * 1_000_000, r
    # distinct pairs only
    pairs = [(r["view_id"], r["click_id"]) for r in rows]
    assert len(pairs) == len(set(pairs))


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append-mode contract the complete-mode keys can't show: once
    the watermark passes a window's end, the window emits exactly once
    and later-arriving events for it are DROPPED. Two micro-batches
    through a file source: batch 1 closes [9,10) (watermark 0s, max ts
    10:59); batch 2 carries an event at 9:20 — late, must not re-open
    or re-emit the window — plus an on-time 11:30 event that advances
    the watermark past [10,11)."""
    import datetime as dt
    import os
    import uuid

    from pyspark.sql import types as T

    from machine_learning_algorithm_sparkml__spark.streaming.events import (
        windowed_event_counts,
    )

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ])

    def ev(i, hh, mm):
        return (i, dt.datetime(2024, 1, 1, hh, mm), 1, "view", 1.0)

    src = os.path.join(str(tmp_path), "in")
    spark.createDataFrame([ev(1, 9, 10), ev(2, 10, 59)], schema).coalesce(
        1
    ).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_event_counts(stream, window_duration="1 hour", watermark="0 seconds")
    name = "late_" + uuid.uuid4().hex[:6]
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        first = {
            (r["window_start"].hour, r["n_events"]) for r in spark.table(name).collect()
        }
        assert first == {(9, 1)}, first  # [9,10) closed and emitted once

        spark.createDataFrame([ev(3, 9, 20), ev(4, 11, 30)], schema).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        final = {
            (r["window_start"].hour, r["n_events"]) for r in spark.table(name).collect()
        }
    finally:
        q.stop()
    # late 9:20 dropped: [9,10) still shows 1 and was not re-emitted;
    # [10,11) flushed by the no-data batch after the watermark advanced;
    # [11,12) stays open (watermark has not passed 12:00)
    assert final == {(9, 1), (10, 1)}, final


def test_session_window_merges_at_exact_gap_boundary(spark):
    """An event at exactly last_event + gap MERGES into the running
    session (Spark's merge condition is new_start <= current_end,
    inclusive) — the boundary the session_window_native oracle must
    reproduce with a STRICT > gap break. Verified by construction
    because the testdata has no exact-gap pairs to catch a drift."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2020, 1, 1, 0, 0, 0)),
        (1, dt.datetime(2020, 1, 1, 0, 30, 0)),  # exactly gap later
        (2, dt.datetime(2020, 1, 1, 0, 0, 0)),
        (2, dt.datetime(2020, 1, 1, 0, 30, 1)),  # one second beyond
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", "n")
        .collect()
    )
    per_user = sorted((r.user_id, r.n) for r in out)
    assert per_user == [(1, 2), (2, 1), (2, 1)], per_user


def test_checkpoint_recovery_exactly_once_and_no_reprocessing(spark, sf_dir):
    """The restart witness behind `streaming_checkpoint_recovery`:
    (1) the final sink holds each finalized (window, event_type)
    exactly once and equals the watermark-restricted batch answer;
    (2) the checkpoint's file-source log shows every source file
    committed in exactly ONE batch, with run 2 consuming only phase-2
    files (no reprocessing after restart); (3) the sink carries the
    `_spark_metadata` transaction log, so a batch read sees only
    committed files; (4) open tail windows (inside the watermark
    delay) are correctly withheld."""
    import json
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.workload.streaming import (
        q_streaming_checkpoint_recovery,
    )

    res = q_streaming_checkpoint_recovery(spark, sf_dir).collect()
    keys = [(r.window_start, r.window_end, r.event_type) for r in res]
    assert len(keys) == len(set(keys))  # exactly-once emission

    events = load_table(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts")).first()[0]
    assert max(r.window_end for r in res) < max_ts  # tail windows withheld

    out = scratch_sink_path(sf_dir, "ckpt_recovery_out")
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))

    src_log = os.path.join(scratch_sink_path(sf_dir, "ckpt_recovery_ckpt"), "sources", "0")
    batches = sorted((b for b in os.listdir(src_log) if b.isdigit()), key=int)
    assert len(batches) >= 2  # at least one batch per run
    seen_paths: list[str] = []
    phase1_batches, phase2_batches = set(), set()
    for b in batches:
        with open(os.path.join(src_log, b)) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                path = json.loads(line)["path"]
                seen_paths.append(path)
                (phase1_batches if "phase=1" in path else phase2_batches).add(int(b))
    assert len(seen_paths) == len(set(seen_paths))  # each file committed once
    # run 1's batches saw only phase-1 files; run 2's only phase-2
    assert phase1_batches and phase2_batches
    assert max(phase1_batches) < min(phase2_batches)


def test_foreach_batch_upsert_merges_across_batches_deterministically(spark, sf_dir):
    """The foreachBatch MERGE witness: (1) the run really executes
    multiple micro-batches (one snapshot version per batch, pointer at
    the last); (2) the final state is one row per user with counts
    summing to the corpus; (3) a full re-run reproduces the state
    byte-for-byte — the determinism that makes the per-batch
    version-from-previous-version derivation retry-idempotent."""
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_foreach_batch_upsert,
    )

    first = run_streaming_foreach_batch_upsert(spark, sf_dir, n_source_files=3).collect()

    state = scratch_sink_path(sf_dir, "febatch_state")
    versions = sorted(v for v in os.listdir(state) if v.startswith("v"))
    assert versions == ["v0", "v1", "v2"]  # one merge per micro-batch
    with open(os.path.join(state, "_CURRENT")) as f:
        assert f.read().strip() == "v2"

    events = load_table(spark, sf_dir, "events")
    assert len(first) == events.select("user_id").distinct().count()
    assert sum(r.n_events for r in first) == events.count()
    # every state row is a real event, with its true per-user count
    latest = {
        (r.user_id, r.last_event_id, r.last_ts, r.last_event_type, r.last_value)
        for r in first
    }
    raw = {
        (r.user_id, r.event_id, r.ts, r.event_type, r.value)
        for r in events.collect()
    }
    assert latest <= raw

    again = run_streaming_foreach_batch_upsert(spark, sf_dir, n_source_files=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))


def test_late_data_copies_are_dropped_not_counted(spark, sf_dir):
    """Non-vacuousness witness for `streaming_late_data`: the planted
    re-delivery is large (>0 rows by construction), and HAD the copies
    been aggregated, the affected old windows would double-count — so
    the key's output must equal the originals-only batch answer and
    differ from the with-copies one on every re-delivered window."""
    import datetime

    from machine_learning_algorithm_sparkml__spark.workload.streaming import (
        q_streaming_late_data,
    )

    events = load_table(spark, sf_dir, "events")
    mid_s = events.agg(
        F.expr("percentile(cast(ts as double), 0.5)").alias("m")
    ).first()["m"]
    mid = datetime.datetime.fromtimestamp(mid_s, datetime.timezone.utc).replace(tzinfo=None)
    copies = events.filter(F.col("ts") < F.lit(mid) - F.expr("INTERVAL 2 HOURS"))
    n_copies = copies.count()
    assert n_copies > 0  # the witness is not vacuous

    out = {
        (r.window_start, r.window_end, r.event_type): r.n_events
        for r in q_streaming_late_data(spark, sf_dir).collect()
    }
    # originals-only counts for the re-delivered windows must match;
    # with-copies counts (2x) must NOT appear anywhere
    cutoff = mid - datetime.timedelta(hours=2)
    replayed = (
        copies.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("ws"), F.col("win.end").alias("we"),
            "event_type", "n",
        )
        # the window straddling the cutoff is only PARTIALLY copied;
        # fully-copied windows are where copies == original count
        .filter(F.col("we") <= F.lit(cutoff))
        .collect()
    )
    assert replayed
    for r in replayed:
        key = (r.ws, r.we, r.event_type)
        assert out[key] == r.n  # original count, not 2 * n


def test_upsert_restart_resumes_version_chain_and_matches_uninterrupted(spark, sf_dir):
    """The MERGE-across-restart witness: the second incarnation
    consumes exactly the files that landed after the first died (its
    checkpoint source log shows the part=2 file alone in the
    post-restart batch), the v0->v1->v2 snapshot chain spans the
    restart unbroken, and the final state is identical to the
    uninterrupted single-run key's."""
    import json
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_foreach_batch_upsert,
    )

    restarted = run_streaming_foreach_batch_upsert(
        spark, sf_dir, n_source_files=3, restart_after_files=2
    ).collect()
    state = scratch_sink_path(sf_dir, "febatch_restart_state")
    assert sorted(v for v in os.listdir(state) if v.startswith("v")) == ["v0", "v1", "v2"]

    src_log = os.path.join(
        scratch_sink_path(sf_dir, "febatch_restart_ckpt"), "sources", "0"
    )
    batches = sorted((b for b in os.listdir(src_log) if b.isdigit()), key=int)
    per_batch_parts = []
    for b in batches:
        with open(os.path.join(src_log, b)) as f:
            parts = {
                json.loads(line)["path"].split("part=")[1][0]
                for line in f
                if line.startswith("{")
            }
        per_batch_parts.append(parts)
    assert len(per_batch_parts) == 3
    assert per_batch_parts[0] | per_batch_parts[1] == {"0", "1"}  # run 1
    assert per_batch_parts[2] == {"2"}  # post-restart incarnation

    plain = run_streaming_foreach_batch_upsert(
        spark, sf_dir, n_source_files=3
    ).collect()
    assert sorted(map(tuple, restarted)) == sorted(map(tuple, plain))


def test_python_stream_source_offset_recovery_exactly_once(spark, sf_dir):
    """The custom-connector streaming contract: sequential availableNow
    incarnations over one checkpoint drain the feed via RECOVERED
    offsets — the commit log shows the cursor advancing across >=3
    committed batches, and the sink holds every feed id exactly once
    (no gap, no double-delivery), byte-equal to the feed formula."""
    import json
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.sources.pyds import (
        _CATEGORIES,
        _MOD,
        _MULT,
    )
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_python_source,
    )

    out = run_streaming_python_source(
        spark, sf_dir, rows_per_batch=2500, max_rows=7500, rows_per_partition=2500
    )
    rows = out.collect()
    assert len(rows) == 7500
    ids = [r.id for r in rows]
    assert len(set(ids)) == 7500  # exactly once
    expected = {
        (i, i // 2500, ((i * _MULT) % _MOD) / 1000.0, _CATEGORIES[i % 4])
        for i in range(7500)
    }
    assert {tuple(r) for r in rows} == expected

    # the checkpointed cursor really advanced batch by batch
    odir = os.path.join(scratch_sink_path(sf_dir, "pysrc_ckpt"), "offsets")
    batches = sorted(int(f) for f in os.listdir(odir) if f.isdigit())
    assert len(batches) >= 3
    positions = []
    for b in batches:
        with open(os.path.join(odir, str(b))) as f:
            for line in f:
                if '"pos"' in line:
                    positions.append(json.loads(line.strip())["pos"])
    assert positions == sorted(positions) and positions[-1] == 7500, positions


def test_python_source_drain_ignores_progress_retention(spark, sf_dir, monkeypatch):
    """The incarnation loop stops at the incarnation that drains the
    feed, read from the checkpointed {"pos"} cursor, however few
    progress updates the query retains. This source runs one
    micro-batch per availableNow incarnation, and a retention of 1
    keeps none: a drain rule that sums ``recentProgress`` then never
    fires and every remaining incarnation runs — the same under-count
    as an incarnation that outruns the default 100-entry window."""
    from pyspark.sql.streaming import DataStreamWriter

    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_python_source,
    )

    starts = []
    start = DataStreamWriter.start

    def counting_start(self, *args, **kwargs):
        starts.append(1)
        return start(self, *args, **kwargs)

    monkeypatch.setattr(DataStreamWriter, "start", counting_start)
    key = "spark.sql.streaming.numRecentProgressUpdates"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        out = run_streaming_python_source(
            spark, sf_dir, rows_per_batch=2, max_rows=4, rows_per_partition=2
        )
    finally:
        spark.conf.set(key, old)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2, 3]
    assert len(starts) == 2  # one resume from the recovered cursor, no idle runs


def test_python_source_static_join_exactly_once_across_incarnations(spark, sf_dir):
    """The stateless composition plane: multiple availableNow
    incarnations over one checkpoint must land every enriched feed row
    EXACTLY once (offsets + sink commits alone — no state store to
    hide a double-delivery), every row must carry the correct region
    dim value, and the checkpoint's source log must show the multi-
    batch drain actually happened."""
    import glob
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import (
        load_table,
        scratch_sink_path,
    )
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_python_source_static_join,
    )

    out = run_streaming_python_source_static_join(
        spark, sf_dir, rows_per_batch=1500, max_rows=6000, rows_per_partition=1500
    ).cache()
    try:
        rows = out.collect()
        assert len(rows) == 6000
        assert len({r.id for r in rows}) == 6000  # exactly once
        names = {
            r.r_regionkey: r.r_name
            for r in load_table(spark, sf_dir, "region").collect()
        }
        for r in rows[:200]:
            assert r.r_name == names[r.id % 5]
        # the drain took multiple committed batches over one checkpoint
        ckpt = scratch_sink_path(sf_dir, "pysrc_sj_ckpt")
        commits = glob.glob(os.path.join(ckpt, "commits", "*"))
        assert len([c for c in commits if not c.endswith(".tmp")]) >= 4
    finally:
        out.unpersist()


def test_python_source_static_join_plans_as_broadcast(spark, sf_dir):
    """The enrichment join must be a broadcast hash join (the static
    side ships to every batch task; the stream is never shuffled) —
    asserted on the identical join expression planned over the feed
    schema, which is what each micro-batch plans."""
    from machine_learning_algorithm_sparkml__spark.plans import formatted_plan
    from machine_learning_algorithm_sparkml__spark.sources.io import load_table

    feed_like = spark.range(100).select(
        F.col("id"),
        (F.col("id") / 1500).cast("int").alias("part"),
        F.lit(0.5).alias("value"),
        F.lit("auth").alias("category"),
    )
    dim = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("bigint").alias("rk"), "r_name"
    )
    joined = (
        feed_like.withColumn("rk", F.col("id") % 5)
        .join(F.broadcast(dim), "rk")
        .select("id", "part", "value", "category", "r_name")
    )
    plan = formatted_plan(joined)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan, plan


def test_python_source_windowed_heartbeat_flushes_without_trace(spark, sf_dir):
    """The composed connector->watermark pipeline: the punctuation row
    must FLUSH every real-data window the final watermark covers (7
    hourly windows x 4 categories; emission lags the watermark by one
    batch, and a drained incarnation runs no batch — without the
    heartbeat the tail windows stay open forever), while leaving no
    trace of itself: its own window never finalizes, total emitted
    events stay strictly below the real feed (open-tail withholding is
    non-vacuous), and the per-window counts equal a batch replay of
    the feed formula."""
    import datetime

    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_python_source_windowed,
    )

    out = run_streaming_python_source_windowed(
        spark, sf_dir, rows_per_batch=2500, max_rows=7500,
        rows_per_partition=2500, window_duration="1 hour",
        watermark="30 minutes", seconds_per_id=4, num_state_partitions=8,
    ).cache()
    try:
        rows = out.collect()
        base = datetime.datetime(2024, 1, 1)
        # final watermark from REAL data: 7499*4s - 30min => 7 windows
        assert len(rows) == 7 * 4
        assert all(r.n_events == 225 for r in rows)  # 900 ids/hour / 4 cats
        max_real_ts = base + datetime.timedelta(seconds=7499 * 4)
        wm = max_real_ts - datetime.timedelta(minutes=30)
        assert all(r.window_end <= wm for r in rows)
        # heartbeat (id 7500, ts 30000s) leaves no trace: its window
        # [28800s, 32400s) never appears, and the emitted total is
        # strictly below the real feed size (tail windows withheld)
        hb_window_start = base + datetime.timedelta(seconds=28800)
        assert all(r.window_start < hb_window_start for r in rows)
        assert sum(r.n_events for r in rows) == 7 * 900 < 7500
        # per-window decimal sums equal a JVM batch replay of the formula
        replay = (
            spark.range(7500)
            .selectExpr(
                "timestampadd(SECOND, id * 4, TIMESTAMP '2024-01-01 00:00:00') AS ts",
                "CAST(((id * 2654435761) % 1000003) / 1000.0 AS DECIMAL(18,3)) AS value",
                "CASE CAST(id % 4 AS INT) WHEN 0 THEN 'auth' WHEN 1 THEN 'page' "
                "WHEN 2 THEN 'api' ELSE 'batch' END AS category",
            )
            .groupBy(F.window("ts", "1 hour").alias("win"), "category")
            .agg((F.sum("value") * 1000).cast("bigint").alias("sum_value_milli"))
            .select(
                F.col("win.start").alias("window_start"),
                "category",
                "sum_value_milli",
            )
        )
        want = {
            (r.window_start, r.category): r.sum_value_milli for r in replay.collect()
        }
        for r in rows:
            assert r.sum_value_milli == want[(r.window_start, r.category)]
    finally:
        out.unpersist()


def test_rocksdb_state_backend_engages_and_is_semantically_invisible(spark, sf_dir):
    """The RocksDB provider must actually ENGAGE (the checkpoint's
    state dir holds zip snapshots containing RocksDB artifacts —
    sst/MANIFEST/CURRENT — not the default provider's bare .delta
    files), the session conf must be restored after query start (the
    provider is frozen into the query, not leaked into the session),
    and the result must equal the default provider's run row-for-row:
    the state backend is an operational choice, never a semantic
    one."""
    import os
    import zipfile

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_window_counts,
        run_streaming_window_counts_rocksdb,
    )

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    rocks = run_streaming_window_counts_rocksdb(
        spark, sf_dir, window_duration="1 hour", num_state_partitions=8
    )
    after = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    assert after == prev  # conf restored; provider frozen into the query only

    got = {tuple(r) for r in rocks.collect()}
    default = run_streaming_window_counts(
        spark, sf_dir, window_duration="1 hour", num_state_partitions=8
    )
    assert got == {tuple(r) for r in default.collect()}

    state_root = os.path.join(scratch_sink_path(sf_dir, "rocksdb_state_ckpt"), "state")
    zips = []
    for root, _dirs, files in os.walk(state_root):
        zips += [os.path.join(root, f) for f in files if f.endswith(".zip")]
    assert zips, "no RocksDB snapshot zips in the state dir"
    names = set()
    for z in zips[:4]:
        with zipfile.ZipFile(z) as zf:
            names.update(zf.namelist())
    assert any(
        n.endswith(".sst") or "MANIFEST" in n or n.endswith("CURRENT") for n in names
    ), names


def test_rocksdb_changelog_checkpointing_engages_same_result(spark, sf_dir):
    """RocksDB's changelog checkpointing — the faster-commit/recovery
    mode (per-batch changelogs uploaded instead of full compacted
    snapshots; at scale, commit cost tracks the DELTA, not the store
    size). The witness: the state dir carries .changelog files, and
    the result is identical to snapshot mode — checkpoint format is an
    operational knob, never a semantic one."""
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_window_counts_rocksdb,
    )

    key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        changelog = run_streaming_window_counts_rocksdb(
            spark, sf_dir, window_duration="1 hour", num_state_partitions=8
        )
        got = {tuple(r) for r in changelog.collect()}
        state = os.path.join(
            scratch_sink_path(sf_dir, "rocksdb_state_ckpt"), "state"
        )
        suffixes = {
            f.rsplit(".", 1)[-1]
            for root, _d, files in os.walk(state)
            for f in files
        }
        assert "changelog" in suffixes, suffixes
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    snapshot = run_streaming_window_counts_rocksdb(
        spark, sf_dir, window_duration="1 hour", num_state_partitions=8
    )
    assert got == {tuple(r) for r in snapshot.collect()}


def test_rocksdb_changelog_restart_recovers_from_changelog_tail(spark, sf_dir):
    """The keyed restart witness (streaming_rocksdb_changelog): both
    incarnations run changelog-mode RocksDB over ONE checkpoint, the
    state dir must hold .changelog files (engagement), phase 2 must
    recover from snapshot + changelog tail, and the final sink must
    equal the default-provider restart witness row-for-row — backend
    AND checkpoint format are operational knobs, never semantic."""
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_checkpoint_recovery,
        run_streaming_rocksdb_changelog,
    )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    changelog = run_streaming_rocksdb_changelog(
        spark, sf_dir, window_duration="1 hour", watermark="30 minutes",
        num_state_partitions=8,
    )
    after = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    assert after == prev_provider  # scoped to query start, not leaked

    state = os.path.join(
        scratch_sink_path(sf_dir, "rocksdb_changelog_ckpt"), "state"
    )
    suffixes = {
        f.rsplit(".", 1)[-1] for _r, _d, files in os.walk(state) for f in files
    }
    assert "changelog" in suffixes, suffixes

    got = {tuple(r) for r in changelog.collect()}
    default = run_streaming_checkpoint_recovery(
        spark, sf_dir, window_duration="1 hour", watermark="30 minutes",
        num_state_partitions=8,
    )
    assert got == {tuple(r) for r in default.collect()}


def test_state_reader_is_exact_complement_of_sink(spark, sf_dir):
    """The sharp statement behind streaming_state_reader: after the
    append-mode drain, (emitted sink) and (live state) PARTITION the
    batch aggregate — disjoint, union-complete, values matching per
    window — and the state-metadata table reports the pinned 8-wide
    store. This is what makes the state reader a trustworthy
    operational surface: what you read IS the unemitted remainder."""
    import os

    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_state_reader,
    )

    state = {
        (r.window_start, r.window_end, r.event_type): r.n_events
        for r in run_streaming_state_reader(spark, sf_dir).collect()
    }
    sink_path = scratch_sink_path(sf_dir, "state_reader_out")
    sink = {
        (r.window_start, r.window_end, r.event_type): r.n_events
        for r in spark.read.parquet(sink_path)
        .withColumnRenamed("window", "win")
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
        .collect()
    }
    assert state and sink
    assert not set(state) & set(sink), "state and sink must be disjoint"

    events = load_table(spark, sf_dir, "events")
    batch = {
        (r.window_start, r.window_end, r.event_type): r.n_events
        for r in events.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
        .collect()
    }
    merged = {**state, **sink}
    assert merged == batch, "state + sink must partition the batch aggregate"

    md = spark.read.format("state-metadata").load(
        scratch_sink_path(sf_dir, "state_reader_ckpt")
    )
    rows = md.collect()
    assert len(rows) == 1 and rows[0].numPartitions == 8, rows


def test_state_changefeed_folds_to_live_state(spark, sf_dir):
    """The defining change-feed property: folding the feed (last
    change per key wins; a trailing delete removes the key) must
    reproduce exactly the LIVE state the plain statestore read
    returns, and the batch script must be the pinned four-batch
    put/delete shape with NULL values on every delete."""
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from machine_learning_algorithm_sparkml__spark.streaming import (
        run_streaming_state_changefeed,
    )

    feed = run_streaming_state_changefeed(spark, sf_dir).cache()
    try:
        rows = feed.collect()
        by_batch = {}
        for r in rows:
            by_batch.setdefault(r.batch_id, set()).add(r.change_type)
        assert by_batch == {0: {"update"}, 1: {"delete"}, 2: {"update"}, 3: {"delete"}}
        assert all(r.n_events is None for r in rows if r.change_type == "delete")
        assert all(r.n_events >= 1 for r in rows if r.change_type == "update")

        folded = {}
        for r in sorted(rows, key=lambda r: r.batch_id):
            k = (r.window_start, r.window_end, r.event_type)
            if r.change_type == "delete":
                folded.pop(k, None)
            else:
                folded[k] = r.n_events

        live = {
            (r.key.window.start, r.key.window.end, r.key.event_type): r.value["count"]
            for r in spark.read.format("statestore")
            .load(scratch_sink_path(sf_dir, "state_cf_ckpt"))
            .collect()
        }
        assert folded == live, (len(folded), len(live))
    finally:
        feed.unpersist()


def test_streaming_corpus_dedup_state_survives_restart(spark, sf_dir):
    """The restart semantics behind the streaming_corpus_dedup oracle:
    every planted phase-2 clone (an exact duplicate of a phase-1-or-2
    original delivered AFTER the checkpointed restart) must be dropped
    by state recovered from the checkpoint; every fingerprint keeps
    exactly one member; each streamed doc is emitted exactly once."""
    from machine_learning_algorithm_sparkml__spark.streaming.corpus_dedup import (
        run_streaming_corpus_dedup,
    )

    out = run_streaming_corpus_dedup(spark, sf_dir, num_state_partitions=8).cache()
    rows = out.collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    n_planted = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 50 == 0
    ).count()
    assert n_planted > 0
    # exactly-once emission: one verdict per streamed doc
    assert len(rows) == n_docs + n_planted
    assert out.select("doc_id").distinct().count() == len(rows)
    by_id = {r.doc_id: r for r in rows}
    for r in rows:
        if r.doc_id >= 10_000_000:
            # clone: delivered in phase 2, dropped via recovered state
            assert r.phase == 2
            assert not r.is_kept, r.doc_id
            orig = by_id[r.doc_id - 10_000_000]
            assert orig.fp == r.fp
    # one keeper per fingerprint, and it's the (phase, doc_id) minimum
    import collections

    groups = collections.defaultdict(list)
    for r in rows:
        groups[r.fp].append(r)
    for fp, members in groups.items():
        keepers = [m for m in members if m.is_kept]
        assert len(keepers) == 1, fp
        assert min((m.phase, m.doc_id) for m in members) == (
            keepers[0].phase,
            keepers[0].doc_id,
        )
    out.unpersist()


class _StubGroupState:
    """The slice of pyspark's GroupState that _dedup_group touches."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_corpus_dedup_group_handler_closed_form():
    """r17 fast path of streaming/corpus_dedup._dedup_group: keeper
    election and the non-monotonic raise must behave exactly as the
    r16 per-row loop — first row keeps iff no stored keeper, later
    rows never keep, any arrival below the stored keeper raises."""
    import pandas as pd
    import pytest as _pytest

    from machine_learning_algorithm_sparkml__spark.streaming.corpus_dedup import (
        _dedup_group,
    )

    def run(rows, state):
        pdf = pd.DataFrame(rows, columns=["doc_id", "phase"])
        (out,) = list(_dedup_group((123,), iter([pdf]), state))
        return list(zip(out["doc_id"], out["kept"] if "kept" in out else out["is_kept"]))

    # fresh group: min (phase, doc_id) keeps, rest drop — input unsorted
    st = _StubGroupState()
    got = run([(7, 1), (3, 1), (9, 2)], st)
    assert got == [(3, True), (7, False), (9, False)]
    assert st.get == (1, 3)

    # later batch with stored keeper: nothing keeps
    got = run([(11, 2), (10, 2)], st)
    assert got == [(10, False), (11, False)]
    assert st.get == (1, 3)

    # arrival below the stored keeper must raise, not re-elect
    with _pytest.raises(ValueError, match="non-monotonic"):
        run([(1, 1)], st)


def test_corpus_dedup_group_handler_empty_group():
    """An empty group (no batches, or only empty frames — what a
    timeout call delivers) yields one empty frame with the output
    columns and leaves the stored keeper untouched."""
    import pandas as pd

    from machine_learning_algorithm_sparkml__spark.streaming.corpus_dedup import (
        _dedup_group,
    )

    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"), "phase": pd.Series(dtype="int32")})
    for batches in ([], [empty], [empty, empty]):
        st = _StubGroupState((1, 3))
        (out,) = list(_dedup_group((123,), iter(batches), st))
        assert out.empty
        assert list(out.columns) == ["doc_id", "fp", "phase", "is_kept"]
        assert st.get == (1, 3)
    fresh = _StubGroupState()
    (out,) = list(_dedup_group((123,), iter([]), fresh))
    assert out.empty and not fresh.exists
