"""Structured Streaming ingestion + windowed aggregation.

The reference only *configures* real-time (MQTT/OPC UA settings at
``config/settings.py:94-108``, ``enable_real_time_processing=False``
at ``:191``; no implementation anywhere in ``src/``). Here the events
workload runs as a real stream: file source → watermark → tumbling /
sliding / session windows → append sinks, plus streaming dedup
(``dropDuplicatesWithinWatermark`` — the streaming analog of D1-D3).

Batch/stream parity: the window shapes are the same expressions used
by ``operators.timeseries`` — one logical definition, two runtimes.

Tests drive everything with ``trigger(availableNow=True)`` + memory
sink: bounded, deterministic, no long-running query. An MQTT/OPC-UA
bridge would land here as a custom DataSource; the socket/Kafka path
is the standard production route.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    file_format: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-based streaming source over an events directory (T4's
    sensor-ingestion slot; micro-batch = the reference's hourly batch
    cadence T2, but continuous).

    When *schema* is None it is inferred from the existing files via a
    driver-side batch footer read — a stream source needs an explicit
    schema, and deriving it from the data keeps the stream's timestamp
    type (TIMESTAMP vs TIMESTAMP_NTZ) identical to what batch queries
    over the same lake see, so stream/batch parity joins stay
    type-exact whichever physical type the lake stores."""
    if schema is None:
        schema = spark.read.format(file_format).load(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.format(file_format).load(path)
    # Watermarks and time windows demand TIMESTAMP; a lake that stores
    # TIMESTAMP_NTZ would reject withWatermark outright
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). With the session timezone
    # pinned to UTC (session.py) the cast is value-identical, so the
    # stream sees the same instants batch queries do.
    for f in stream.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            stream = stream.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return stream


def stream_tumbling_agg(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "10 minutes",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Watermarked tumbling-window aggregation — late data beyond the
    watermark is dropped, state is bounded (the two things the
    reference's batch pipeline cannot express)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), *keys)
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *keys,
            "event_cnt",
            "value_sum",
        )
    )


def stream_session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    keys: Sequence[str] = ("user_id",),
) -> DataFrame:
    """Streaming session windows (stateful; closes when watermark
    passes session end + gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), *keys)
        .agg(F.count(F.lit(1)).alias("event_cnt"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            *keys,
            "event_cnt",
        )
    )


def stream_dedup(
    events: DataFrame,
    keys: Sequence[str] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming dedup with bounded state — duplicates arriving within
    the watermark horizon are dropped (D1-D3's streaming analog)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))


def run_to_memory_sink(
    df: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_s: int = 120,
    state_partitions: int | None = None,
) -> None:
    """Drive a streaming DataFrame to completion with availableNow →
    in-memory table ``query_name`` (test/verify harness path).

    ``state_partitions`` sizes the state store: a stateful streaming
    query fixes its number of state-store partitions at first start
    from ``spark.sql.shuffle.partitions``, and every micro-batch then
    pays a per-partition load/commit cost *regardless of state size*.
    Inheriting the batch shuffle default (sized for TB-scale joins)
    gives tiny-state streams 32 near-empty stores and ~2 s of pure
    commit overhead per drain; sizing to the actual state volume
    (key-cardinality × bytes/key ÷ target-store-size) is the real
    production tuning, not a local-mode hack. The conf is restored
    after the query terminates — batch queries are unaffected.
    """
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)


def write_stream_parquet(
    df: DataFrame, path: str, checkpoint: str, available_now: bool = True
) -> None:
    """T3: append-only streaming parquet sink with checkpointing."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    q = writer.trigger(availableNow=True).start() if available_now else writer.start()
    if available_now:
        q.awaitTermination(300)
        if q.isActive:
            q.stop()


def stream_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum) maintained in state-store state across
    micro-batches — the arbitrary-stateful extension point the window/
    dedup built-ins can't express (e.g. running feature aggregates for
    an online training-data feed).

    State is two numbers per key: bounded, skew-safe (one key = one
    state row regardless of event volume). Output mode is ``update``:
    each batch emits the refreshed totals only for keys it touched.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_totals(key, pdfs, state: "GroupState"):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_totals,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lower_bound: str = "0 seconds",
    upper_bound: str = "30 minutes",
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "2 hours",
    prefixes: tuple[str, str] = ("l_", "r_"),
) -> DataFrame:
    """Stream-stream INNER join on ``key`` with the right event inside
    ``[left_ts + lower_bound, left_ts + upper_bound]`` — the streaming
    analog of the batch range join (operators/joins.range_join).

    The watermark plus the closed time bound are what make this run
    forever on unbounded streams: Spark can discard buffered left rows
    once watermark passes ``left_ts + upper_bound`` (no right match can
    arrive anymore) and symmetrically for the right — state is bounded
    by watermark horizon × arrival rate, independent of stream length.
    Columns are prefix-renamed BEFORE the watermark so a self-join of
    one source stream is unambiguous.
    """
    lp, rp = prefixes
    l = left.select(
        [F.col(c).alias(lp + c) for c in left.columns]
    ).withWatermark(lp + left_ts, watermark)
    r = right.select(
        [F.col(c).alias(rp + c) for c in right.columns]
    ).withWatermark(rp + right_ts, watermark)
    lt, rt = F.col(lp + left_ts), F.col(rp + right_ts)
    cond = (
        (F.col(lp + key) == F.col(rp + key))
        & (rt >= lt + F.expr(f"INTERVAL {lower_bound}"))
        & (rt <= lt + F.expr(f"INTERVAL {upper_bound}"))
    )
    return l.join(r, cond, "inner")


def stream_append_lake(
    df: DataFrame,
    table_path: str,
    checkpoint: str,
    app_id: str = "stream",
    timeout_s: int = 300,
) -> None:
    """Exactly-once streaming append into a versioned lake table
    (streaming analog of T2/T3 over ``lake.LakeTable``).

    foreachBatch is at-least-once after restarts; the lake commit
    carries an (app_id, batch_id) txn marker atomically with the data
    file list, so a replayed micro-batch is detected in the log and
    skipped — the Delta ``txnAppId``/``txnVersion`` idempotent-sink
    pattern, here on the from-scratch transaction log. The target
    table must exist (LakeTable.create first)."""
    from ..lake import LakeTable

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        LakeTable.load(batch_df.sparkSession, table_path).append_stream_batch(
            batch_df, app_id, batch_id
        )

    q = (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()


def stream_merge_lake(
    df: DataFrame,
    table_path: str,
    key: str,
    checkpoint: str,
    order_col: str | None = None,
    timeout_s: int = 300,
    dv: bool = False,
    maintain_every: int = 0,
    maintenance: dict | None = None,
) -> None:
    """CDC-style continuous MERGE into a versioned lake table: each
    micro-batch is collapsed to one row per key (max ``order_col``
    wins) and upserted file-granularly — a batch touching 50 keys of a
    100 TB table rewrites only the files holding those keys, and the
    commit log keeps every pre-merge version readable. Replayed batches
    re-merge the same rows into the same state (MERGE by key is
    idempotent for identical payloads), so at-least-once delivery still
    converges to exactly the stream's final state. ``dv=True`` runs
    each micro-batch's merge in deletion-vector mode — the natural fit
    for a CDC trickle (many tiny batches, each touching a sliver of
    large files): per-batch cost drops to O(changed rows), and the
    maintenance compaction folds the accumulated vectors.

    ``maintain_every=N`` runs ``optimize_if_needed`` (kwargs from
    ``maintenance``) inside the loop every N micro-batches — without
    it, a continuous DV trickle monotonically accumulates sidecars and
    small insert files, and every reader pays a growing anti-join +
    listing tax; with it the read tax stays FLAT because compaction
    folds vectors and bins small files on the same cadence the stream
    creates them (probed over a 50-batch run in SCALE.md). The
    maintenance commit competes like any writer: its Txn rebase keeps
    it safely concurrent with the merges."""
    from ..lake import LakeTable

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df
        if b.isEmpty():
            return
        from pyspark.sql import Window

        order = (
            F.col(order_col).desc() if order_col else F.monotonically_increasing_id().desc()
        )
        w = Window.partitionBy(key).orderBy(order)
        b = b.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        t = LakeTable.load(b.sparkSession, table_path)
        # CDC payloads carry ordering metadata (seq/ts) that is not part
        # of the table — project to the target's columns post-collapse
        t.merge(b.select(*t.read().columns), key, dv=dv)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            t.optimize_if_needed(**(maintenance or {}))

    q = (
        df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()


def stream_enrich_static(stream: DataFrame, dim: DataFrame, cond) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against
    the CURRENT static side with a broadcast hash join — no state
    store, no watermark (only stream-stream joins need state). This is
    the canonical dimension-enrich shape: at scale the dim is a lake
    table re-read per batch (picking up slowly-changing updates) and
    broadcast once per executor."""
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), cond, "inner")


def stream_running_totals_tws(events: DataFrame) -> DataFrame:
    """`stream_running_totals` on the Spark 4 arbitrary-state API
    (``transformWithStateInPandas`` + ``StatefulProcessor``) — same
    per-user running (count, sum) contract, same update-mode output.

    Why both exist: ``applyInPandasWithState`` is the stable legacy
    surface; transformWithState is where new stateful features land
    (typed value/list/map state with per-state TTL, timers, initial
    state, state-schema evolution) and is the recommended shape going
    forward. Operationally it REQUIRES the RocksDB state store
    (`use_rocksdb_state`): at 100 TB key cardinality that is the right
    store anyway — state spills to executor disk with changelog
    checkpointing instead of living wholly on the JVM heap.

    Runtime dependency note: the transformWithState Python state
    server speaks protobuf; in environments without ``google.protobuf``
    (this container) the query crashes at start, so the parity test
    gates on the import and the legacy formulation remains the
    executable default here.
    """
    import pandas as pd

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", "n long, total double")

        def handleInputRows(self, key, rows, timer_values):
            n, total = (
                tuple(self._totals.get()) if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def use_rocksdb_state(spark) -> None:
    """Switch the session's streaming state store to RocksDB (ships in
    Spark 4; required by transformWithState, recommended at scale for
    heap-free state + changelog checkpoints)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
