"""Structured Streaming over the ``events`` table (SURVEY.md §7.4,
additive — the reference has no streaming surface, §2.10).

The events parquet directory doubles as a bounded stream source:
``readStream`` over the file glob, event-time tumbling windows with a
watermark for late data, and a memory sink driven to completion with
``processAllAvailable()`` — the smallest useful streaming surface,
identical in shape to a production kafka -> window -> sink job.

Scale notes: windowed aggregation state is keyed by (window,
event_type); the watermark bounds state size — without it a 100 TB
backfill would accumulate unbounded state. ``complete`` output mode is
used for the finite-replay correctness check; production append-mode
emits each window once its watermark passes.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


@contextmanager
def frozen_shuffle_partitions(spark: SparkSession, n: int | None):
    """Set ``spark.sql.shuffle.partitions`` for the duration of a
    streaming-query START (Spark freezes the value into the query's
    state layout at start — see ``_run_to_completion``), restoring the
    session value on exit. ONE definition shared by every stateful
    runner (events + stateful.py) so the freeze/restore rule cannot
    drift. ``n=None`` is a no-op (inherit the session width)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    if n is not None:
        spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)

def _events_schema(sf_dir: str, spark: SparkSession | None = None) -> tuple[T.StructType, bool]:
    """Streaming needs the schema up front; the generated events file
    has shipped with ``ts`` as both TIMESTAMP(NANOS) (Spark 4 rejects
    → read as long ns) and TIMESTAMP(MICROS, NTZ). Peek at the parquet
    footer (metadata only, no data IO) to pick the right read schema.
    Returns (schema, ts_is_long_nanos)."""
    import os

    try:
        import pyarrow.parquet as pq

        ts_type = str(pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type)
        nanos = ts_type.endswith("[ns]")
    except ImportError:
        # pyarrow is an optional pyspark dependency; fall back to the
        # same detection sources.io.load_table could do — a metadata-only
        # Spark batch read of the file's schema (nanos files read as long
        # under the legacy flag; micros files read as timestamp_ntz).
        from pyspark.sql import SparkSession

        from machine_learning_algorithm_sparkml__spark.sources.io import _nanos_as_long

        # getActiveSession() is thread-local and can be None (ADVICE
        # r5); prefer the caller's session, fall back for direct calls.
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise RuntimeError(
                "_events_schema needs a SparkSession when pyarrow is "
                "unavailable — pass spark= (read_events_stream does)"
            )
        with _nanos_as_long(spark):
            dt = dict(
                spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
            )["ts"]
        nanos = dt == "bigint"
    ts_field = T.LongType() if nanos else T.TimestampNTZType()
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_field),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])
    return schema, nanos


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events parquet file(s). ``ts`` is
    normalized to a microsecond ``timestamp`` (LTZ; session tz is UTC)
    whichever physical form the file carries, mirroring
    ``sources.io.load_table``."""
    from machine_learning_algorithm_sparkml__spark.sources.io import _nanos_as_long

    schema, nanos = _events_schema(sf_dir, spark)
    # The file stream source lists a DIRECTORY; select just the events
    # file via glob (a production job points at a growing directory).
    with _nanos_as_long(spark):
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
    if nanos:
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time tumbling window counts + value sums per event type,
    late data bounded by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    *,
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding event-time windows: each event contributes to
    window/slide overlapping windows (2 here). State is keyed by
    (window, event_type) exactly as tumbling; the overlap factor
    multiplies state size, which the watermark still bounds."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration, slide_duration).alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Native session windows: per user, events merge into one session
    while each arrives within ``gap`` of the session's current end
    (Spark merges when the new event's start <= current end, so a gap
    of exactly ``gap`` still merges). State is one open session per
    user, closed and evicted once the watermark passes its end —
    bounded regardless of stream length."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def _run_to_completion(
    spark: SparkSession,
    agg: DataFrame,
    *,
    output_mode: str,
    num_state_partitions: int | None = None,
    checkpoint_dir: str | None = None,
    state_store_provider: str | None = None,
) -> DataFrame:
    """Drive a bounded streaming query to completion through a memory
    sink and return the materialized result.

    ``num_state_partitions`` right-sizes the STATE STORE width for
    stateful queries: Spark freezes ``spark.sql.shuffle.partitions``
    into the query's state layout at start, and each micro-batch then
    commits one checkpoint per (partition x store); a stream-stream
    join keeps 4 stores per partition, so inheriting a batch-tuned
    width (32 here) costs 128 small-file commits per batch — commit
    time, not the join, dominated the r7 `stream_stream_join` bench
    (stateOperators.commitTimeMs ~= 7x addBatch). Size it to keyed
    state VOLUME (rows per partition), not CPU count: the bounded
    replay holds ~40k state rows, so 8 partitions keeps partitions
    ~5k rows while quartering commit traffic. A production deployment
    at 1000x the rate sizes it up the same way. The session config is
    restored immediately after start (it is only read at query
    start)."""
    query_name = f"stream_{uuid.uuid4().hex[:8]}"
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    if state_store_provider is not None:
        spark.conf.set(provider_key, state_store_provider)
    try:
        with frozen_shuffle_partitions(spark, num_state_partitions):
            writer = (
                agg.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(query_name)
            )
            if checkpoint_dir is not None:
                writer = writer.option("checkpointLocation", checkpoint_dir)
            q = writer.start()
    finally:
        # provider (like the partition count) is frozen into the query
        # at start; restore the session conf immediately
        if state_store_provider is not None:
            if prev_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, prev_provider)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # Snapshot the sink via an eager localCheckpoint, then drop the
    # memory-sink table: the sink pins the FULL result in driver
    # memory and `clearCache()` does not release it — in a long-lived
    # session running many streaming queries (the bench loop: ~20
    # streams) the leaked sinks compound into GC pressure that showed
    # up as a 3x micro-batch slowdown on the last streaming keys of
    # the r7 bench (ROUND7.md §13). r16 snapshotted with
    # collect() + createDataFrame(rows) — a JVM -> Python -> JVM
    # pickle round-trip of every result row (guide §4: two boundary
    # crossings the query never needed). The checkpoint keeps the rows
    # JVM-side (r17: 0.2-0.4 s saved per memory-sink key), is bounded
    # by the same O(aggregated groups) size argument, and its blocks
    # are released by the ContextCleaner once the frame is GC'd.
    result = spark.table(query_name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(query_name)
    return result


def run_streaming_sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Sliding-window counts over the bounded events stream; complete
    mode => equals the batch overlap expansion the oracle computes."""
    events = read_events_stream(spark, sf_dir)
    agg = sliding_event_counts(
        events, window_duration=window_duration, slide_duration=slide_duration
    )
    return _run_to_completion(
        spark, agg, output_mode="complete", num_state_partitions=num_state_partitions
    )


def run_streaming_session_windows(
    spark: SparkSession,
    sf_dir: str,
    *,
    gap: str = "30 minutes",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Session-window counts over the bounded events stream; complete
    mode => the final state equals the batch session_window result
    (and the oracle's gap-island SQL)."""
    events = read_events_stream(spark, sf_dir)
    agg = session_window_counts(events, gap=gap)
    return _run_to_completion(
        spark, agg, output_mode="complete", num_state_partitions=num_state_partitions
    )


def run_streaming_dedup(
    spark: SparkSession, sf_dir: str, *, num_state_partitions: int | None = None
) -> DataFrame:
    """Streaming exact dedup: the bounded events stream is doubled
    (every row planted twice via explode) and
    ``dropDuplicatesWithinWatermark`` must restore exactly one row per
    event_id — the streaming half of the corpus dedup story. State
    holds only ids younger than the watermark; append mode emits each
    first occurrence immediately."""
    events = read_events_stream(spark, sf_dir)
    doubled = events.withColumn("_copy", F.explode(F.array(F.lit(0), F.lit(1)))).drop("_copy")
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.select("event_id", "user_id", "ts", "event_type", "value")
    return _run_to_completion(
        spark, out, output_mode="append", num_state_partitions=num_state_partitions
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each event picks up the customer
    dimension row (user_id == c_custkey). The static side is a bounded
    dim -> Spark broadcasts it to every micro-batch task; the stream is
    never shuffled and no state is kept (stateless join)."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table

    events = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"), "c_name", "c_mktsegment"
    )
    joined = events.join(customer, events["user_id"] == customer["c_custkey"]).select(
        "event_id", "user_id", "event_type", "value", "c_name", "c_mktsegment"
    )
    return _run_to_completion(spark, joined, output_mode="append")


def run_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_lag: str = "30 minutes",
    watermark: str = "1 hour",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: every
    click within ``max_lag`` after a view by the same user. Both sides
    are watermarked — the watermark plus the time bound lets Spark
    evict join state (without them a stream-stream join buffers both
    streams forever); inner-join matches emit eagerly, so over a
    bounded replay the result equals the batch range join the oracle
    runs. The equi-key (user_id) carries the shuffle; the range
    predicate is evaluated within matched key groups."""
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr(f"interval {max_lag}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("lag_us"),
    )
    return _run_to_completion(
        spark, joined, output_mode="append", num_state_partitions=num_state_partitions
    )


def run_streaming_window_counts(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Drive the streaming window-count query to completion over the
    bounded events source and return the final result as a DataFrame.

    ``complete`` output mode + ``processAllAvailable`` => the memory
    sink holds the full aggregation, equal to the batch (and SQL
    oracle) result — the streaming/batch unification Spark guarantees.
    """
    events = read_events_stream(spark, sf_dir)
    agg = windowed_event_counts(events, window_duration=window_duration)
    return _run_to_completion(
        spark, agg, output_mode="complete", num_state_partitions=num_state_partitions
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_streaming_window_counts_rocksdb(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """The windowed aggregation on the RocksDB state-store provider —
    the state-BIGGER-THAN-MEMORY surface a 100 TB streaming deployment
    runs on: the default HDFS-backed provider keeps every state row in
    executor heap (a high-cardinality keyed aggregation OOMs or GC-
    stalls at scale), while RocksDB spills state to local SSD with
    bounded block-cache memory and checkpoints compacted snapshots
    (the ``N.zip`` per store in the state dir, vs the default
    provider's ``.delta`` files). Same query, same semantics, one
    session-conf switch frozen into the query at start — which is
    exactly the claim worth a key: the state BACKEND is swappable
    without touching the aggregation, so the memory-sink result must
    equal the default provider's (and the shared batch oracle) row
    for row. The pytest witness additionally proves engagement: the
    checkpoint's state dir holds RocksDB zip snapshots containing
    sst/MANIFEST artifacts."""
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    ckpt = scratch_sink_path(sf_dir, "rocksdb_state_ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    events = read_events_stream(spark, sf_dir)
    agg = windowed_event_counts(events, window_duration=window_duration)
    return _run_to_completion(
        spark,
        agg,
        output_mode="complete",
        num_state_partitions=num_state_partitions,
        checkpoint_dir=ckpt,
        state_store_provider=ROCKSDB_PROVIDER,
    )


def _committed_pos(ckpt: str) -> int:
    """The synthlog cursor a new incarnation recovers from ``ckpt``:
    the ``{"pos": n}`` source offset of the newest COMMITTED batch (0
    before the first commit). It is read from the checkpoint's own
    logs, so it is cumulative across incarnations and independent of
    how many progress updates a query retains — ``q.recentProgress``
    keeps only ``spark.sql.streaming.numRecentProgressUpdates``
    entries, so summing its ``numInputRows`` under-counts any
    incarnation that outruns that window."""
    commits = os.path.join(ckpt, "commits")
    done = [int(f) for f in os.listdir(commits) if f.isdigit()] if os.path.isdir(commits) else []
    if not done:
        return 0
    with open(os.path.join(ckpt, "offsets", str(max(done)))) as f:
        return json.loads(f.read().splitlines()[-1])["pos"]


def _drain_python_source(
    spark: SparkSession,
    transform: Callable[[DataFrame], DataFrame],
    *,
    ckpt: str,
    out: str,
    feed_rows: int,
    rows_per_batch: int,
    rows_per_partition: int,
    num_state_partitions: int | None,
    max_incarnations: int,
) -> None:
    """Drain the synthlog feed (``feed_rows`` rows) through
    ``transform(feed)`` into the append parquet sink ``out``: sequential
    ``availableNow`` incarnations over ONE durable checkpoint ``ckpt``,
    each resuming from the RECOVERED ``{"pos"}`` cursor, until the
    checkpointed cursor (:func:`_committed_pos`) reaches the end of the
    feed. ``num_state_partitions`` is frozen into the query at start
    (None inherits the session width). Bounded loop: a connector bug
    that stalled the cursor exits with a short sink, which the oracle
    comparison then fails."""
    from machine_learning_algorithm_sparkml__spark.sources.pyds import register

    register(spark)
    for d in (ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    for _ in range(max_incarnations):
        feed = (
            spark.readStream.format("synthlog")
            .option("rowsPerBatch", str(rows_per_batch))
            .option("maxRows", str(feed_rows))
            .option("rowsPerPartition", str(rows_per_partition))
            .load()
        )
        with frozen_shuffle_partitions(spark, num_state_partitions):
            q = (
                transform(feed)
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()
        if _committed_pos(ckpt) >= feed_rows:
            break


def run_streaming_python_source(
    spark: SparkSession,
    sf_dir: str,
    *,
    rows_per_batch: int = 2500,
    max_rows: int = 7500,
    rows_per_partition: int = 2500,
    max_incarnations: int = 6,
) -> DataFrame:
    """Custom STREAMING source via the Python Data Source API
    (sources/pyds.py:_SynthLogStreamReader): an offset-managed feed
    whose ``{"pos": n}`` cursor Spark checkpoints per committed
    micro-batch. The drive (:func:`_drain_python_source`) runs
    sequential ``availableNow`` incarnations over ONE durable
    checkpoint + append parquet sink until the feed is drained — each
    incarnation resumes from the RECOVERED offset, so the final sink
    holding every feed row exactly once (no gaps, no double-delivery
    across process death) is precisely the offset-recovery guarantee a
    production connector must provide. ``readBetweenOffsets`` covers
    the planned-but-uncommitted replay path; the feed is a pure
    function of the row id, so a replay is bit-identical."""
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    out = scratch_sink_path(sf_dir, "pysrc_out")
    _drain_python_source(
        spark,
        lambda feed: feed,
        ckpt=scratch_sink_path(sf_dir, "pysrc_ckpt"),
        out=out,
        feed_rows=max_rows,
        rows_per_batch=rows_per_batch,
        rows_per_partition=rows_per_partition,
        num_state_partitions=None,
        max_incarnations=max_incarnations,
    )
    return spark.read.parquet(out).select("id", "part", "value", "category")


def run_streaming_python_source_windowed(
    spark: SparkSession,
    sf_dir: str,
    *,
    rows_per_batch: int = 2500,
    max_rows: int = 7500,
    rows_per_partition: int = 2500,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    seconds_per_id: int = 4,
    num_state_partitions: int | None = 8,
    max_incarnations: int = 6,
) -> DataFrame:
    """COMPOSE the connector's stream plane with the watermark
    scaffold: the synthlog Python streaming source feeds a stateful
    event-time windowed aggregation — custom offsets underneath,
    Spark's own watermark/state machinery on top, the full production
    topology (custom connector -> hourly windows -> object-store
    sink) for a feed Spark has no built-in reader for.

    What this witnesses beyond ``streaming_python_source`` (pass-
    through sink): the CHECKPOINT now carries three coordinated logs —
    the connector's ``{"pos"}`` cursor, the watermark, and the
    aggregation state-store — and all three must recover coherently
    across the sequential ``availableNow`` incarnations for the final
    sink to hold every watermark-finalized window exactly once. Event
    time derives from the row id (id*4 seconds from a fixed origin),
    so windows close deterministically; sums accumulate as
    decimal(18,3) (exact, order-independent — the module's FP rule),
    so the oracle replays the whole pipeline from a generate_series:
    finalized windows = aggregate restricted to window_end <=
    max(real ts) - watermark delay. Drain detection reads the
    checkpointed source cursor, not the sink: the sink holds windows,
    not rows.

    The last feed row is a PUNCTUATION (heartbeat) event — the kafka
    heartbeat-topic pattern: append-mode emission LAGS the watermark
    by one batch (the batch that advances the watermark past a
    window's end does not itself emit that window), this source runs
    exactly one batch per availableNow incarnation, a drained
    incarnation runs NO batch at all, and the max-event-time stats a
    flush would need are not persisted in the checkpoint — so without
    one more DATA batch the tail windows stay open forever. The
    heartbeat row is that batch: its arrival flushes every
    real-data window the final watermark covers, while its OWN window
    can never finalize (a window containing the maximum event time
    always ends above any watermark derived from it), so the
    heartbeat leaves no trace in the sink and the oracle needs no
    carve-out. At 100 TB this is exactly why idle kafka partitions
    get heartbeats: watermarks only move when data does."""
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    def _windowed(feed: DataFrame) -> DataFrame:
        events = feed.select(
            F.expr(
                f"timestampadd(SECOND, id * {seconds_per_id}, "
                "TIMESTAMP '2024-01-01 00:00:00')"
            ).alias("ts"),
            "category",
            F.col("value").cast("decimal(18,3)").alias("value"),
        )
        return (
            events.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_duration).alias("win"), "category")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").cast("decimal(38,3)").alias("sum_value"),
            )
            .select(
                F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "category",
                "n_events",
                "sum_value",
            )
        )

    out = scratch_sink_path(sf_dir, "pysrc_win_out")
    _drain_python_source(
        spark,
        _windowed,
        ckpt=scratch_sink_path(sf_dir, "pysrc_win_ckpt"),
        out=out,
        # one extra row past the real corpus: the watermark-advancing
        # punctuation batch (see docstring)
        feed_rows=max_rows + 1,
        rows_per_batch=rows_per_batch,
        rows_per_partition=rows_per_partition,
        num_state_partitions=num_state_partitions,
        max_incarnations=max_incarnations,
    )
    # output boundary: the checkpoint/state/sink all accumulate exact
    # decimal(38,3), but the RETURNED frame emits integer milli-units
    # — Decimal objects serialize differently per engine on hash
    # paths; exact integers never do (r9 verdict)
    return spark.read.parquet(out).select(
        "window_start",
        "window_end",
        "category",
        "n_events",
        (F.col("sum_value") * 1000).cast("bigint").alias("sum_value_milli"),
    )


def run_streaming_python_source_static_join(
    spark: SparkSession,
    sf_dir: str,
    *,
    rows_per_batch: int = 2500,
    max_rows: int = 7500,
    rows_per_partition: int = 2500,
    max_incarnations: int = 6,
) -> DataFrame:
    """The THIRD composition plane for the Python streaming source
    (ROUND9 §12): custom connector underneath, a STREAM-STATIC
    BROADCAST enrichment join on top — every micro-batch row picks up
    its region dimension row (``id % 5 == r_regionkey``), the static
    side broadcast to every batch task, the stream never shuffled, no
    state store involved. What this witnesses beyond the windowed
    composition: a STATELESS operator over the recovered connector
    cursor — the checkpoint here carries only the ``{"pos"}`` offset
    log and sink metadata, and exactly-once across the sequential
    ``availableNow`` incarnations must come from offsets + sink
    commit coordination alone (no state-store replay to hide a
    double-delivery). Every feed row joins (ids cover all 5 region
    keys), so the drained sink holds exactly the enriched feed — the
    oracle replays generate_series JOIN region. No heartbeat row is
    needed: a stateless join emits in the batch that reads the row;
    nothing waits on a watermark. At 100 TB this is the canonical
    kafka -> broadcast-dim -> object-store enrichment hop."""
    from machine_learning_algorithm_sparkml__spark.sources.io import (
        load_table,
        scratch_sink_path,
    )

    dim = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("bigint").alias("rk"), "r_name"
    )
    out = scratch_sink_path(sf_dir, "pysrc_sj_out")
    _drain_python_source(
        spark,
        lambda feed: (
            feed.withColumn("rk", F.col("id") % 5)
            .join(F.broadcast(dim), "rk")
            .select("id", "part", "value", "category", "r_name")
        ),
        ckpt=scratch_sink_path(sf_dir, "pysrc_sj_ckpt"),
        out=out,
        feed_rows=max_rows,
        rows_per_batch=rows_per_batch,
        rows_per_partition=rows_per_partition,
        num_state_partitions=None,
        max_incarnations=max_incarnations,
    )
    return spark.read.parquet(out).select(
        "id", "part", "value", "category", "r_name"
    )


def run_streaming_checkpoint_recovery(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Exactly-once recovery across a query RESTART — the production
    streaming property the memory-sink keys cannot witness: a durable
    checkpoint + a transactional file sink, driven as two separate
    ``availableNow`` runs over a growing source directory.

    Phase 1 writes the ts-lower-half of events into the source dir and
    runs the append-mode windowed aggregation to termination (emitting
    every window the phase-1 watermark finalizes). Phase 2 adds the
    second half and STARTS A FRESH QUERY from the same checkpoint: the
    offset log makes it process only the new file, the state store
    resumes the open windows, and the sink's ``_spark_metadata``
    commit log guarantees each finalized window lands exactly once
    even though two independent query incarnations wrote the
    directory. Splitting BY TIME means no phase-2 event is ever below
    the recovered watermark, so nothing is late-dropped and the final
    sink equals the batch aggregation of ALL events restricted to
    watermark-finalized windows — the SQL-oracle-checkable statement
    of exactly-once.

    This is the 100 TB deployment shape (kafka/file source -> hourly
    append windows -> object-store sink, restarted at will); the
    bounded two-run replay is the smallest faithful witness. The batch
    read of the sink goes through ``_spark_metadata``, so only
    committed files are visible (a torn run cannot leak partial
    output).
    """
    return _two_phase_windowed_restart(
        spark,
        sf_dir,
        leaf="ckpt_recovery",
        window_duration=window_duration,
        watermark=watermark,
        num_state_partitions=num_state_partitions,
    )


def run_streaming_state_reader(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    num_state_partitions: int | None = 8,
) -> DataFrame:
    """State-store-as-a-table (Spark 4 State Data Source): after an
    append-mode watermarked windowed aggregation drains, read the
    checkpoint's state store back as a BATCH DataFrame
    (``spark.read.format("statestore").load(ckpt)``) — the
    operational surface a production streaming fleet runs for state
    inspection, skew audits, and incident debugging WITHOUT replaying
    the stream or stopping the query's checkpoint.

    The correctness statement is sharp: append mode emits a window
    exactly when the watermark passes its end and evicts its state in
    the same commit, so the LIVE state after the final batch is
    precisely the OPEN windows — the set complement of the sink.
    The oracle states it declaratively: batch aggregate restricted to
    window_end > max(ts) - delay (the exact complement of the
    ``streaming_checkpoint_recovery`` oracle's restriction). The
    aggregation buffer read back is count-only: a count buffer is an
    exact BIGINT (engine-stable), where a double-sum buffer would
    expose accumulation order. At 100 TB this reader is the
    difference between "attach a debugger to a 3 TB state store" and
    a SQL query: state rows come back per-partition (partition_id
    column) so hot-key skew is one GROUP BY away."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    src = scratch_sink_path(sf_dir, "state_reader_src")
    ckpt = scratch_sink_path(sf_dir, "state_reader_ckpt")
    out = scratch_sink_path(sf_dir, "state_reader_out")
    for d in (src, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    with frozen_shuffle_partitions(spark, num_state_partitions):
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
    state = spark.read.format("statestore").load(ckpt)
    return state.select(
        F.col("key.window.start").alias("window_start"),
        F.col("key.window.end").alias("window_end"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


def run_streaming_state_changefeed(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    num_state_partitions: int | None = 8,
) -> DataFrame:
    """CDC **of the state store itself** (State Data Source
    ``readChangeFeed``, requires RocksDB + changelog checkpointing):
    every state transition the restart witness's checkpoint recorded,
    as (batch_id, change_type, key, value) rows — the audit surface
    that answers "what did batch N do to state" at 100 TB without
    replaying the stream.

    The batch script is fully deterministic, so the WHOLE feed is
    SQL-replayable: each ``availableNow`` incarnation over the file
    source runs one DATA batch then one EMISSION batch (watermark
    advancement lags a batch, so the flush is its own commit):

    - batch 0: a put ('update') per phase-1 (window, type) with
      phase-1 counts;
    - batch 1: a delete per window the phase-1 watermark finalized
      (window_end <= max(phase-1 ts) - delay) — emitted + evicted,
      value NULL;
    - batch 2 (fresh query, recovered checkpoint): a put per window
      TOUCHED by phase-2 events, value = CUMULATIVE count (recovered
      state + delta — the put records the post-image);
    - batch 3: a delete per surviving window the final watermark
      covers (wm1 < window_end <= max(ts) - delay); the open tail
      stays live (readable via ``streaming_state_reader``).

    The phases split at the INTEGER-MICROSECOND midpoint
    ((epoch_us(min)+epoch_us(max)) div 2) — exact bigint arithmetic
    both engines, where the median-split used by the restart
    witnesses interpolates doubles and could flip an event across
    engines at the last ulp. Count-only buffer for the same reason as
    ``streaming_state_reader``. Cited shape: the reference has no
    streaming at all (SURVEY §2.10); this extends the engine's
    checkpoint-recovery family with the state-evolution audit."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    row = events.agg(
        F.unix_micros(F.min("ts")).alias("a"), F.unix_micros(F.max("ts")).alias("b")
    ).first()
    mid_us = (row["a"] + row["b"]) // 2

    src = scratch_sink_path(sf_dir, "state_cf_src")
    ckpt = scratch_sink_path(sf_dir, "state_cf_ckpt")
    out = scratch_sink_path(sf_dir, "state_cf_out")
    for d in (src, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)

    confs = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    }

    def _one_run() -> None:
        stream = (
            spark.readStream.schema(events.schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = (
            stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
        prev = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            with frozen_shuffle_partitions(spark, num_state_partitions):
                q = (
                    agg.writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        q.awaitTermination()

    is_p1 = F.unix_micros(F.col("ts")) <= F.lit(mid_us)
    events.filter(is_p1).write.mode("overwrite").parquet(os.path.join(src, "phase=1"))
    _one_run()
    events.filter(~is_p1).write.mode("overwrite").parquet(os.path.join(src, "phase=2"))
    _one_run()

    feed = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", "0")
        .load(ckpt)
    )
    return feed.select(
        "batch_id",
        "change_type",
        F.col("key.window.start").alias("window_start"),
        F.col("key.window.end").alias("window_end"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
    )


def run_streaming_rocksdb_changelog(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """The checkpoint-recovery restart witness on the RocksDB state
    store with CHANGELOG CHECKPOINTING — the faster-recovery posture a
    large stateful deployment runs: instead of uploading a full
    compacted snapshot (``N.zip``) per store per commit, each commit
    persists only the batch's state CHANGES (``N.changelog``) and
    snapshots are taken asynchronously in the background
    (``spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing``)
    — commit cost tracks |delta|, not |state|, which is the difference
    between a bounded and an O(state)-per-batch commit at 100 TB
    state. Recovery replays newest-snapshot + tail-of-changelogs, so
    the restart in phase 2 exercises exactly the path the option
    changes. Semantics must be IDENTICAL to the default-provider
    restart witness: the final sink still equals the batch aggregate
    restricted to watermark-finalized windows (same oracle as
    ``streaming_checkpoint_recovery``) — the backend and its
    checkpoint format are swappable without touching the query.
    The pytest witness proves engagement (``.changelog`` files in the
    state dir; the snapshot-only layout has none)."""
    return _two_phase_windowed_restart(
        spark,
        sf_dir,
        leaf="rocksdb_changelog",
        window_duration=window_duration,
        watermark=watermark,
        num_state_partitions=num_state_partitions,
        extra_confs={
            "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        },
    )


def run_streaming_late_data(
    spark: SparkSession,
    sf_dir: str,
    *,
    window_duration: str = "1 hour",
    watermark: str = "30 minutes",
    num_state_partitions: int | None = None,
) -> DataFrame:
    """Watermark late-data semantics across a restart: phase 2 carries
    the second half of events PLUS re-delivered copies of events more
    than 2 hours older than the split point — all far below the
    watermark the restarted query recovers from its checkpoint, so
    every copy must be DROPPED before aggregation. The final sink must
    therefore equal the batch aggregation of the ORIGINAL events only
    (restricted to watermark-finalized windows): if the engine failed
    to drop the re-delivery, the old windows would double-count and
    the oracle compare would fail.

    This is the at-least-once upstream reality (a kafka producer
    retries, a file lands twice) that watermarking exists to bound:
    state for finalized windows is GONE, so late rows cannot be merged
    — they are filtered by the recovered watermark, keeping state
    size and result correctness independent of redelivery volume.
    """

    def _replayed_copies(events: DataFrame, mid) -> DataFrame:
        return events.filter(F.col("ts") < mid - F.expr("INTERVAL 2 HOURS"))

    return _two_phase_windowed_restart(
        spark,
        sf_dir,
        leaf="late_data",
        window_duration=window_duration,
        watermark=watermark,
        num_state_partitions=num_state_partitions,
        phase2_extra=_replayed_copies,
    )


def _two_phase_windowed_restart(
    spark: SparkSession,
    sf_dir: str,
    *,
    leaf: str,
    window_duration: str,
    watermark: str,
    num_state_partitions: int | None,
    phase2_extra=None,
    extra_confs: dict[str, str] | None = None,
) -> DataFrame:
    """Shared scaffolding for the restart witnesses: split events at
    the integer-micros midpoint of the time span, run the append-mode windowed
    aggregation as two ``availableNow`` incarnations over a growing
    source dir with a durable checkpoint and a transactional parquet
    sink, and read the committed sink back. ``phase2_extra(events,
    mid)`` optionally injects extra rows into the phase-2 file (the
    late-redelivery witness). ``extra_confs`` (e.g. the state-store
    provider / changelog-checkpointing pair) are scoped around each
    incarnation's START only — like the partition count, they are
    frozen into the query and must not leak into the session."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # deterministic two-phase split at the integer-microsecond midpoint
    # of the event-time span (the streaming_state_changefeed split rule)
    # — exact bigint arithmetic from a partial-aggregatable min/max
    # pass. r16 split at the exact median via `percentile()`, whose
    # final merge buffers every value in ONE reduce task (guide §2.5;
    # ~0.4 s per restart key at sf0.1, serial at any scale). Any
    # time-based split preserves both the witness (two non-empty
    # phases) and the result: the sink equals the batch aggregate of
    # ALL events under the FINAL watermark, which no split point can
    # move, and phase-2 events (ts > mid >= max phase-1 ts) still can
    # never fall below the recovered watermark. Verified hash-clean at
    # sf0.001/0.01/0.1 for all three restart keys this round.
    row = events.agg(
        F.unix_micros(F.min("ts")).alias("a"), F.unix_micros(F.max("ts")).alias("b")
    ).first()
    mid = F.timestamp_micros(F.lit((row["a"] + row["b"]) // 2))

    src = scratch_sink_path(sf_dir, f"{leaf}_src")
    ckpt = scratch_sink_path(sf_dir, f"{leaf}_ckpt")
    out = scratch_sink_path(sf_dir, f"{leaf}_out")
    for d in (src, ckpt, out):  # a stale checkpoint would replay nothing
        shutil.rmtree(d, ignore_errors=True)

    schema = events.schema

    def _one_run() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = windowed_event_counts(
            stream, window_duration=window_duration, watermark=watermark
        )
        prev = {
            k: spark.conf.get(k, None) for k in (extra_confs or {})
        }
        for k, v in (extra_confs or {}).items():
            spark.conf.set(k, v)
        try:
            with frozen_shuffle_partitions(spark, num_state_partitions):
                q = (
                    agg.writeStream.outputMode("append")
                    .format("parquet")
                    .option("path", out)
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        q.awaitTermination()

    events.filter(F.col("ts") <= mid).write.mode("overwrite").parquet(
        os.path.join(src, "phase=1")
    )
    _one_run()
    phase2 = events.filter(F.col("ts") > mid)
    if phase2_extra is not None:
        phase2 = phase2.unionByName(phase2_extra(events, mid))
    phase2.write.mode("overwrite").parquet(os.path.join(src, "phase=2"))
    _one_run()
    return spark.read.parquet(out)


def run_streaming_foreach_batch_upsert(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_source_files: int = 3,
    num_state_partitions: int | None = None,
    restart_after_files: int | None = None,
) -> DataFrame:
    """``foreachBatch`` keyed-upsert sink — the canonical production
    pattern for targets without a streaming writer: each micro-batch
    MERGEs into a per-user "current state" table (latest event +
    additive event count) instead of appending rows.

    ``restart_after_files=k`` splits the drive into two query
    incarnations sharing the checkpoint: run 1 sees the first k
    source files, run 2 starts fresh after the remaining files land.
    Batch ids CONTINUE across the restart, so the v{k-1} -> v{k}
    version-chain derivation — the retry-idempotency device — also
    carries the exactly-once guarantee across process death: the
    rebooted job merges only unseen batches onto the surviving
    snapshot. Uses separate scratch paths so the restart variant and
    the plain variant never share state.

    The merge target here is a snapshot-versioned parquet table with
    an atomic current-pointer file — a minimal stand-in for the
    transactional MERGE a lakehouse table format provides; the
    foreachBatch body is exactly what a production job would run with
    ``MERGE INTO`` swapped in. Two properties carry the 100 TB
    deployment story:

    - **Retry-idempotent by construction**: version ``v{batch_id}`` is
      derived from ``v{batch_id - 1}`` (never from the mutable
      pointer), so Spark's at-least-once foreachBatch contract
      (a batch may be re-run after a failure) still yields
      exactly-once STATE — replaying batch k rewrites the identical
      ``v{k}``. This is the documented recipe for non-transactional
      sinks: key side effects on ``batch_id``.
    - **Order-independent result**: per-user argmax by (ts, event_id)
      and additive counts commute across batches, so the final state
      is the same whichever order the file source lists its input.

    The bounded replay splits events into ``n_source_files`` files and
    drives them one per micro-batch (``maxFilesPerTrigger=1`` +
    ``availableNow``), so the merge path executes across several real
    batches, not one. Returns the final state: one row per user —
    SQL-replayable as a per-user window argmax + count."""
    from machine_learning_algorithm_sparkml__spark.sources import load_table
    from machine_learning_algorithm_sparkml__spark.sources.io import scratch_sink_path
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    leaf = "febatch" if restart_after_files is None else "febatch_restart"
    src = scratch_sink_path(sf_dir, f"{leaf}_src")
    ckpt = scratch_sink_path(sf_dir, f"{leaf}_ckpt")
    state = scratch_sink_path(sf_dir, f"{leaf}_state")
    for d in (src, ckpt, state):
        shutil.rmtree(d, ignore_errors=True)

    def _write_file(i: int) -> None:
        events.filter(F.col("event_id") % n_source_files == i).write.mode(
            "overwrite"
        ).parquet(os.path.join(src, f"part={i}"))

    first_run_files = (
        n_source_files if restart_after_files is None else restart_after_files
    )
    for i in range(first_run_files):
        _write_file(i)

    def _summarize(df: DataFrame) -> DataFrame:
        """Reduce event-shaped rows (optionally carrying an ``n_events``
        weight) to one state row per user: the (ts, event_id)-argmax
        event plus the additive event count. Used identically for a
        raw batch and for (previous state ∪ batch summary) — keeping
        the real event_id in the state makes the reduction genuinely
        associative, including on exact ts ties."""
        by_recency = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        weight = (
            F.col("n_events") if "n_events" in df.columns else F.lit(1).cast("long")
        )
        return (
            df.withColumn("_w", weight)
            .withColumn("rn", F.row_number().over(by_recency))
            .withColumn("n_total", F.sum("_w").over(Window.partitionBy("user_id")))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("ts").alias("last_ts"),
                F.col("event_type").alias("last_event_type"),
                F.col("value").alias("last_value"),
                F.col("n_total").alias("n_events"),
            )
        )

    def _as_events(state_df: DataFrame) -> DataFrame:
        """Inverse rename so prior state re-enters the same reduction."""
        return state_df.select(
            F.col("last_event_id").alias("event_id"),
            F.col("last_ts").alias("ts"),
            "user_id",
            F.col("last_event_type").alias("event_type"),
            F.col("last_value").alias("value"),
            "n_events",
        )

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        bspark = batch_df.sparkSession
        summary = _summarize(batch_df)
        prev_dir = os.path.join(state, f"v{batch_id - 1}")
        if os.path.isdir(prev_dir):
            prev = bspark.read.parquet(prev_dir)
            merged = _summarize(_as_events(prev).unionByName(_as_events(summary)))
        else:
            merged = summary
        vdir = os.path.join(state, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(vdir)
        # atomic pointer swap: rename is the commit point
        tmp = os.path.join(state, f"_CURRENT.{batch_id}.tmp")
        with open(tmp, "w") as f:
            f.write(f"v{batch_id}")
        os.replace(tmp, os.path.join(state, "_CURRENT"))

    schema = events.schema

    def _one_run() -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        with frozen_shuffle_partitions(spark, num_state_partitions):
            q = (
                stream.writeStream.foreachBatch(_upsert)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        q.awaitTermination()

    _one_run()
    if restart_after_files is not None:
        # restart: a FRESH query incarnation resumes the same
        # checkpoint; batch ids continue, so the v{k-1} -> v{k}
        # version chain spans the restart unchanged
        for i in range(first_run_files, n_source_files):
            _write_file(i)
        _one_run()
    with open(os.path.join(state, "_CURRENT")) as f:
        current = f.read().strip()
    return spark.read.parquet(os.path.join(state, current))
