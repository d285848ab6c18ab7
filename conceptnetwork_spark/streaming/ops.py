"""Structured Streaming surface: source/sink, windowed aggs, session
windows, stateful dedup (SURVEY §2.2 D25-D28).

DuckDB has no streaming, so the correctness contract is BATCH EQUIVALENCE
(SURVEY §7): each declared query below is the batch form of the streaming
computation — tumbling/sliding/session windows and keyed dedup have
identical semantics in Spark batch and streaming (same window() /
session_window() expressions), and the pytest suite replays the events table
through a real ``readStream`` (availableNow trigger, memory sink) and
asserts the streamed result equals the batch result row-for-row.

Timestamp discipline: session timezone is UTC (session.py), windows align to
the epoch, and every emitted time is formatted to a second-precision string
so value hashing is engine- and representation-independent.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from conceptnetwork_spark.catalog import Catalog, fix_nanos
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import (
    is_stage,
    order_by_mtime,
    scratch_dir,
    staged,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def await_finished(q, timeout_sec: int) -> None:
    """Wait for a bounded (availableNow-trigger) stream to finish, hard-stop
    and raise on timeout. ``awaitTermination`` returns False on timeout with
    the query STILL RUNNING — ignoring that would read a partial sink and
    restore session confs mid-query, silently."""
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout_sec}s; sink contents would be partial"
        )


def run_bounded(
    stream: DataFrame,
    name: str,
    *,
    mode: str,
    sink="memory",
    state_partitions: int | None = None,
    rocksdb: bool = False,
    checkpoint: str | None = None,
    timeout: int = 120,
):
    """Run ``stream`` to completion under an availableNow trigger and return
    the finished query; a memory sink's rows are ``spark.table(q.name)``.

    ``sink`` is ``"memory"``, ``"noop"`` or a ``foreachBatch`` callable. The
    query is named ``<name>_<uuid8>``. Its checkpoint is ``checkpoint`` or a
    fresh ``scratch_dir``, removed with the session.

    ``state_partitions`` scopes ``spark.sql.shuffle.partitions`` to this
    query, and ``rocksdb`` the RocksDB state-store provider; both are
    restored afterwards, also when the query fails. Streaming state is
    partitioned by the shuffle count at query start, the checkpoint pins it
    for the query's life, and every partition pays commit I/O per
    micro-batch and state store, so the count should follow key cardinality.
    Most stateful queries here pass 8. The session default follows
    ``SPARK_GRAFT_CPUS`` (4 on a 4-core host, 32 when unset), so 8 may raise
    or lower the count; it stays 8 because the ``d25_state_reader`` oracle
    pins it."""
    spark = stream.sparkSession
    scoped = {}
    if state_partitions is not None:
        scoped["spark.sql.shuffle.partitions"] = str(state_partitions)
    if rocksdb:
        scoped["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB
    prev = {k: spark.conf.get(k, None) for k in scoped}
    writer = stream.writeStream.queryName(f"{name}_{uuid.uuid4().hex[:8]}")
    writer = writer.foreachBatch(sink) if callable(sink) else writer.format(sink)
    try:
        for k, v in scoped.items():
            spark.conf.set(k, v)
        q = (
            writer.outputMode(mode)
            .option("checkpointLocation", checkpoint or scratch_dir(spark, name))
            .trigger(availableNow=True)
            .start()
        )
        await_finished(q, timeout)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return q


def await_rows(q, rows: DataFrame, n: int, timeout: int) -> None:
    """Poll an unbounded query until ``rows`` (a view of its sink) counts at
    least ``n``, then stop it. Raises the query's own error if it dies, and
    fails fast on a clean early stop: no more rows are coming either way.
    Build the caller's result from a fresh view of the sink, not ``rows``."""
    deadline = time.time() + timeout
    try:
        while time.time() < deadline:
            if rows.count() >= n:
                return
            if not q.isActive:
                exc = q.exception()
                raise exc if exc is not None else RuntimeError(
                    f"stream {q.name} stopped cleanly before reaching {n} rows"
                )
            time.sleep(0.3)
        raise TimeoutError(f"stream {q.name} never reached {n} rows")
    finally:
        q.stop()


_STAGE_SCHEMAS: dict[str, StructType] = {}


def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """The parquet files under ``path`` replayed one per micro-batch, oldest
    mtime first, with nanosecond event timestamps converted as the batch
    catalog converts them (a no-op on a ``timestamp`` column).

    Reading the schema runs a Spark job (about 0.12 s at sf0.1). A published
    stage never changes, so its schema is read once per process; any other
    path is read on every call."""
    schema = _STAGE_SCHEMAS.get(path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if is_stage(path):
            _STAGE_SCHEMAS[path] = schema
    return fix_nanos(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path),
        "events",
    )


def _events_stream(spark: SparkSession, sf_dir: str):
    """readStream over the events parquet, nanos-ts converted in-plan
    (same fix_nanos as the batch catalog so both sides agree)."""
    ev_path = Catalog(spark, sf_dir).path("events")
    schema = spark.read.parquet(ev_path).schema
    # glob suffix: the streaming file source requires a directory/glob, and
    # the testdata lays each table out as a single parquet file
    return fix_nanos(
        spark.readStream.schema(schema).parquet(ev_path + "*"), "events"
    )


# --------------------------------------------------------------------------
# D26 — tumbling window aggregation (batch form of the streaming agg)
# --------------------------------------------------------------------------
@register(
    "d26_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY window_start, event_type
    """,
)
def d26_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling window per event_type via F.window — the exact
    expression the streaming job uses; epoch-aligned so it equals
    date_trunc('hour')."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# D26b — sliding window (1h window, 30m slide)
# --------------------------------------------------------------------------
@register(
    "d26_sliding_window",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM (
      SELECT e.*, make_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)
                                 * 1000000 - t.off) AS ws
      FROM events e, unnest([CAST(0 AS BIGINT), CAST(1800000000 AS BIGINT)]) AS t(off)
    )
    GROUP BY ws, event_type
    ORDER BY window_start, event_type
    """,
)
def d26_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30m window: every event lands in exactly two windows. The
    oracle materializes the two epoch-aligned window starts per event."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# D27 — session windows (30-minute gap)
# --------------------------------------------------------------------------
@register(
    "d27_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts >= COALESCE(
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    TIMESTAMP '1900-01-01') + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def d27_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows, 30-min inactivity gap, via the native
    session_window expression (identical semantics in streaming); oracle is
    the classic gaps-and-islands SQL. Session boundary: a gap >= 30 min
    starts a new session (Spark merges events strictly inside start+gap)."""
    ev = Catalog(spark, sf_dir).events
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# D28 — keyed dedup (batch form of dropDuplicatesWithinWatermark)
# --------------------------------------------------------------------------
@register(
    "d28_keyed_dedup",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           ROUND(value, 4) AS value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY ts, user_id) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY event_id
    """,
)
def d28_keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-arrival dedup per event_id (min ts tiebreak) — the batch
    semantics of streaming dropDuplicates within a watermark."""
    ev = Catalog(spark, sf_dir).events
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy("ts", "user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D25 — real streaming source/sink: replay the events parquet through
# readStream and return the materialized result (oracle = plain batch SQL).
# --------------------------------------------------------------------------
@register(
    "d25_stream_ingest",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d25_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END streaming: file source -> streaming agg -> memory sink,
    Trigger.AvailableNow, then return the sink table. Counts/sums are
    micro-batch-invariant, so the result hash-matches the batch oracle —
    this entry proves readStream/writeStream, not just the window exprs."""
    stream = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    q = run_bounded(stream, "stream_ingest", mode="complete")
    return spark.table(q.name).orderBy("event_type")


def run_windowed_stream(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window streaming agg (D26 streaming form), used
    by the batch-equivalence tests: with AvailableNow over a static file the
    watermark never drops rows, so the result equals d26_tumbling_window."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return spark.table(run_bounded(agg, "stream_window", mode="complete").name)


def run_windowed_append_stream(
    spark: SparkSession,
    src_glob: str,
    schema,
    watermark: str = "10 minutes",
    window: str = "1 hour",
) -> DataFrame:
    """Append-mode watermarked tumbling-window count over a file stream,
    one file per micro-batch (files process in modification-time order).

    This is the surface that PINS the late-data contract (SURVEY §7 risk
    item): a window only emits once the watermark passes its end, and rows
    arriving after that for an already-finalized window are DROPPED — the
    emitted counts never include them. Used by the late-data test with two
    staged files: on-time rows advance the watermark in batch 1; batch 2's
    late row lands in a finalized window and must not appear.
    """
    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_glob)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    return spark.table(run_bounded(agg, "stream_late", mode="append").name)


def run_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming form of d27_session_window: watermarked
    session_window aggregation (30-min gap) over readStream events,
    complete-mode memory sink. With AvailableNow over static input the
    watermark drops nothing, so the result equals the batch session
    query — this pins that the session_window expression is genuinely
    streaming-capable (merging session state across micro-batches)."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
    return spark.table(run_bounded(agg, "stream_session", mode="complete").name)


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup on event_id within a watermark (D28
    streaming form): dropDuplicatesWithinWatermark + append to memory."""
    dedup = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id")
    )
    return spark.table(run_bounded(dedup, "stream_dedup", mode="append").name)


# --------------------------------------------------------------------------
# D25 extension — real FILE sink (parquet + commit protocol), not memory
# --------------------------------------------------------------------------
@register(
    "d25_parquet_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def d25_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FILE sink end to end: readStream → foreachBatch upsert into
    a parquet directory → read the files back. foreachBatch is the
    production sink shape for aggregates (file sink proper only supports
    append mode); the batch writer overwrites per micro-batch, and with
    AvailableNow over static input the final files hold the complete
    aggregate — which must hash-match the batch oracle. Exercises the sink
    commit path (temp-file + rename) that the memory sink bypasses."""
    out_dir = scratch_dir(spark, "sink")
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the complete-mode aggregate is event_type-sized (a handful of
        # rows) — one output file, not one near-empty file per state
        # partition (guide §6: size files to the data, not the task count)
        batch_df.coalesce(1).write.mode("overwrite").parquet(out_dir)

    run_bounded(
        agg, "parquet_sink", mode="complete", sink=write_batch, state_partitions=8
    )
    return spark.read.parquet(out_dir).orderBy("event_type")


# --------------------------------------------------------------------------
# D25 extension — stream-stream interval join (view→purchase attribution)
# --------------------------------------------------------------------------
@register(
    "d25_stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 1 HOUR
    ORDER BY view_id, purchase_id
    """,
)
def d25_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the stream-stream interval join: every purchase within
    one hour after a view by the same user (classic attribution). Identical
    semantics to the watermarked streaming join in
    ``run_stream_stream_join`` — the interval condition is what makes the
    streaming state bounded, so the batch and streaming forms agree exactly
    on static input. At scale the join shuffles both streams on user_id
    once; state per key is capped by the 1-hour event-time bound."""
    ev = Catalog(spark, sf_dir).events
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    return (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            F.date_format("v_ts", _TS_FMT).alias("view_ts"),
        )
        .orderBy("view_id", "purchase_id")
    )


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real stream-stream inner join: two watermarked readStreams over the
    same events file, interval condition bounding state, append-mode memory
    sink. With AvailableNow over static input the watermark drops nothing,
    so the result equals ``d25_stream_stream_join``'s batch form. The
    interval bound is MANDATORY in streaming (unbounded-state joins are
    rejected for append output) — this pins that contract."""
    src = _events_stream(spark, sf_dir)
    views = (
        src.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        "view_id",
        "purchase_id",
        "user_id",
        F.date_format("v_ts", _TS_FMT).alias("view_ts"),
    )
    return spark.table(run_bounded(joined, "stream_ssjoin", mode="append").name)


# --------------------------------------------------------------------------
# D25 extension — stream-static enrichment join
# --------------------------------------------------------------------------
@register(
    "d25_stream_static_join",
    oracle="""
    SELECT n_name, event_type, COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name, event_type ORDER BY n_name, event_type
    """,
)
def d25_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of stream-static enrichment: events keyed to the customer
    dimension, rolled up per nation × type. In streaming, the static side
    is broadcast to every micro-batch (no state, re-resolved per batch);
    semantics equal the batch join, which is what the oracle checks."""
    t = Catalog(spark, sf_dir)
    return (
        t.events.join(t.customer, F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("n_name", "event_type")
    )


def run_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real streaming form of d25_stream_static_join: readStream events
    joined to the STATIC customer/nation DataFrames (broadcast into each
    micro-batch), complete-mode aggregate to a memory sink."""
    t = Catalog(spark, sf_dir)
    enriched = (
        _events_stream(spark, sf_dir)
        .join(t.customer, F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return spark.table(run_bounded(enriched, "stream_enrich", mode="complete").name)


# --------------------------------------------------------------------------
# D27b — batch sessionization: assign each EVENT its per-user session
# ordinal (the event->conversation grouping step of an interaction-log
# pipeline; d27_session_window is the aggregate view, this is the
# assignment view)
# --------------------------------------------------------------------------
@register(
    "d27_batch_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT event_id, user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_id, user_id,
           CAST(SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS session_idx
    FROM flagged ORDER BY event_id
    """,
)
def d27_batch_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands session assignment, 30-min inactivity gap: flag
    session starts with lag(ts), number sessions with a running sum. Both
    windows share the (user_id; ts, event_id) sort — Spark computes them
    in ONE shuffle + sort (same window spec), so this costs exactly what
    the aggregate form costs."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_session = (
        prev.isNull()
        | (F.col("ts") >= prev + F.expr("INTERVAL 30 MINUTES"))
    ).cast("int")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("new_session", new_session)
        .select(
            "event_id",
            "user_id",
            F.sum("new_session").over(wsum).cast("long").alias("session_idx"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# D27c — funnel analysis: ordered view -> click -> purchase progression
# --------------------------------------------------------------------------
@register(
    "d27_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS v_ts
      FROM events GROUP BY user_id
    ), s2 AS (
      SELECT s1.user_id, s1.v_ts,
             MIN(e.ts) FILTER (WHERE e.event_type = 'click'
                               AND e.ts >= s1.v_ts) AS c_ts
      FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      GROUP BY s1.user_id, s1.v_ts
    ), s3 AS (
      SELECT s2.user_id, s2.v_ts, s2.c_ts,
             MIN(e.ts) FILTER (WHERE e.event_type = 'purchase'
                               AND e.ts >= s2.c_ts) AS p_ts
      FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      GROUP BY s2.user_id, s2.v_ts, s2.c_ts
    )
    SELECT stage, n_users FROM (
      SELECT '1_view' AS stage, CAST(COUNT(v_ts) AS BIGINT) AS n_users FROM s3
      UNION ALL
      SELECT '2_click', CAST(COUNT(c_ts) AS BIGINT) FROM s3
      UNION ALL
      SELECT '3_purchase', CAST(COUNT(p_ts) AS BIGINT) FROM s3
    ) ORDER BY stage
    """,
)
def d27_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED funnel over the event log: users who viewed, then clicked at
    or after their first view, then purchased at or after that first
    qualifying click — the conversion readout of every product-analytics
    stack (strictly stronger than per-type counts: the ORDER of events
    gates each stage).

    Scale shape: three user_id-keyed aggregations with an events re-join
    between stages; every shuffle is on the same user_id key so the
    exchanges reuse one co-partitioning, the per-user state is 3
    timestamps, and conditional MIN aggregates do partial map-side
    combine — no window over the full log, no per-user event collection."""
    ev = Catalog(spark, sf_dir).events.select("user_id", "event_type", "ts")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("v_ts")
    )
    s2 = (
        s1.join(ev, "user_id", "left")
        .groupBy("user_id", "v_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("v_ts")),
                    F.col("ts"),
                )
            ).alias("c_ts")
        )
    )
    s3 = (
        s2.join(ev, "user_id", "left")
        .groupBy("user_id", "v_ts", "c_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("c_ts")),
                    F.col("ts"),
                )
            ).alias("p_ts")
        )
    )
    counts = s3.agg(
        F.count("v_ts").cast("long").alias("c1"),
        F.count("c_ts").cast("long").alias("c2"),
        F.count("p_ts").cast("long").alias("c3"),
    )
    return counts.select(
        F.expr(
            "stack(3, '1_view', c1, '2_click', c2, '3_purchase', c3) "
            "AS (stage, n_users)"
        )
    ).orderBy("stage")


# --------------------------------------------------------------------------
# D25 extension — incremental CDC apply: multi-batch streaming MERGE into a
# keyed state table (the lakehouse "apply changes" sink)
# --------------------------------------------------------------------------
@register(
    "d25_stream_upsert",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, ROUND(value, 4) AS value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id AS last_event_id, value
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def d25_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the event log arrives in micro-batches (input
    staged as 4 files, maxFilesPerTrigger=1 forces 4 genuine batches) and
    each batch MERGEs into a keyed parquet state table — compact the batch
    to one row per key (arg-max on ts,event_id), union with the prior
    state version, arg-max again, write a NEW version directory (never
    overwrite what the same job reads). The final state must equal the
    batch latest-row-per-user oracle REGARDLESS of batch boundaries —
    per-key arg-max merge is associative and commutative, which is the
    correctness argument for any out-of-order CDC apply at scale. The
    arg-max is one hash aggregate (``max`` of a (ts, event_id, value)
    struct — (ts, event_id) is unique per user, so the lexicographic max
    IS the latest row) with map-side partials, not a row_number window:
    no range exchange, no sort, and the shuffle carries one partial row
    per (task, user) instead of every event. State shuffles only
    (user_id, event_id, value) triples, one version per batch; at 100 TB
    the same loop is Delta/Iceberg MERGE with the version directory
    replaced by table snapshots."""

    def build(tmp: str) -> None:
        ev = Catalog(spark, sf_dir).events
        ev.repartitionByRange(4, "event_id").write.mode("overwrite").parquet(tmp)

    src = file_stream(spark, staged("evstage", build, sf_dir))
    root = scratch_dir(spark, "upsert")
    versions: list[str] = []

    def argmax(df: DataFrame) -> DataFrame:
        # hash-aggregate arg-max: (ts, last_event_id) is unique per user
        # (event_id is globally unique), so max over the struct picks the
        # latest row and value rides along without ever deciding the max.
        # Map-side partials collapse each task to one row per user before
        # the exchange — unlike the row_number-window form this replaced,
        # which range-shuffled and sorted every event row per batch.
        return df.groupBy("user_id").agg(
            F.max(F.struct("ts", "last_event_id", "value")).alias("m")
        ).select("user_id", "m.ts", "m.last_event_id", "m.value")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            "ts",
            F.round("value", 4).alias("value"),
        )
        if versions:
            prev = batch_df.sparkSession.read.parquet(versions[-1])
            delta = prev.unionByName(delta)
        out = os.path.join(root, f"v{batch_id}")
        argmax(delta).write.mode("overwrite").parquet(out)
        versions.append(out)

    run_bounded(
        src, "upsert", mode="append", sink=merge_batch, state_partitions=8, timeout=180
    )
    assert len(versions) >= 4, f"expected >=4 micro-batches, got {len(versions)}"
    return (
        spark.read.parquet(versions[-1])
        .select("user_id", "last_event_id", "value")
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D27 extension — cohort retention (the day-N retention matrix every event
# analytics stack computes from the sessionized stream)
# --------------------------------------------------------------------------
@register(
    "d27_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_day,
             date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
      FROM events e JOIN firsts f USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day, day_offset,
           COUNT(*) AS n_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def d27_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-N cohort retention: users grouped by first-seen day, counted as
    retained on each later day they were active (distinct user-day pairs,
    offsets 0-7). Three shuffles, all on user_id or the small (cohort, day)
    key: the first-seen aggregate, the activity join (first-seen table is
    per-user — broadcast at dim scale, sort-merge at event scale), and the
    matrix rollup. The distinct collapses before the rollup so the final
    agg sees one row per (user, day) — the standard dedup-then-count
    retention plan."""
    ev = Catalog(spark, sf_dir).events
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias(
                "day_offset"
            ),
        )
        .where(F.col("day_offset") <= 7)
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# D26c — watermark late-data DROP semantics (the one behavior only a real
# multi-batch stream can exhibit)
# --------------------------------------------------------------------------
LATE_SPLIT = "2024-01-15 00:00:00"
LATE_DELAY = "2 days"


def _stage_late_arrival(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as TWO single parquet files in arrival order: the NEWER
    half (ts >= LATE_SPLIT) first, the OLDER half second — so the second
    micro-batch is entirely late data, far below the watermark the first
    batch advanced. File order is pinned via mtime."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        split = pc.strptime(LATE_SPLIT, format="%Y-%m-%d %H:%M:%S", unit="ns")
        b0 = os.path.join(tmp, "b0_new.parquet")
        b1 = os.path.join(tmp, "b1_late.parquet")
        pq.write_table(t.filter(pc.field("ts") >= split), b0)
        pq.write_table(t.filter(pc.field("ts") < split), b1)
        order_by_mtime([b0, b1])

    return staged("late", build, sf_dir)


@register(
    "d26_append_finalize",
    # Closed-form oracle for the streaming run below. Two real micro-batches
    # (on-time half first, older half second). Emission in append mode
    # happens at state EVICTION, one batch after the watermark passes a
    # window's end: batch 1 evicts-and-emits every window whose end <=
    # W1 = max(on-time ts) - delay — that is all on-time windows up to W1
    # plus ALL of the older half's windows (Spark 4.1 does NOT pre-filter
    # late aggregation input: measured numRowsDroppedByWatermark == 0, the
    # late rows build fresh state and emit at the same eviction). Windows
    # after W1 are still open when the bounded stream ends and are WITHHELD
    # — the append-mode finalization contract this query pins.
    oracle=f"""
    WITH wm AS (
      SELECT max(ts) - INTERVAL {LATE_DELAY} AS w FROM events
      WHERE ts >= TIMESTAMP '{LATE_SPLIT}'
    )
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events, wm
    GROUP BY date_trunc('hour', ts), wm.w
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
    ORDER BY window_start
    """,
)
def d26_append_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermark finalization end to end, across two genuine
    micro-batches (maxFilesPerTrigger=1): the first batch advances the
    watermark; the second arrives entirely below it. The sink must hold
    exactly the windows the watermark finalized — the open tail past
    max(ts) - delay is withheld — and the cross-batch watermark propagation
    is load-bearing: with a single batch nothing would be evicted and the
    sink would be EMPTY (eviction uses the watermark committed by the
    PREVIOUS batch).

    Scale shape: one row of state per open window; the watermark bounds
    state size — the eviction this query observes is exactly the mechanism
    that keeps a 100 TB out-of-order stream's state finite."""
    stream = file_stream(spark, _stage_late_arrival(spark, sf_dir))
    agg = (
        stream.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    q = run_bounded(agg, "late_drop", mode="append", state_partitions=8)
    return (
        spark.table(q.name)
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# D25 extension — stream-stream LEFT OUTER join (watermark-driven null
# emission, the statefully hard half of streaming joins)
# --------------------------------------------------------------------------
OUTER_SPLIT = "2024-01-20 00:00:00"  # early window: both sides < SPLIT
OUTER_ADV = "2024-01-29 00:00:00"  # watermark advancer: purchases >= ADV
OUTER_DELAY = "2 hours"
OUTER_INTERVAL = "1 hour"


def _stage_outer_join(spark: SparkSession, sf_dir: str) -> str:
    """Two-batch staging for outer-join state flush: batch 0 carries the
    full early window (ts < OUTER_SPLIT, views and purchases); batch 1 is
    a PURCHASES-ONLY advancer (ts >= OUTER_ADV) whose only job is to move
    the watermark past the early views' join expiry — purchases are the
    right side of the left-outer join, so the advancer itself can never
    add outer rows, and the >=9-day gap guarantees it matches nothing."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        split = pc.strptime(OUTER_SPLIT, format="%Y-%m-%d %H:%M:%S", unit="ns")
        adv = pc.strptime(OUTER_ADV, format="%Y-%m-%d %H:%M:%S", unit="ns")
        b0 = os.path.join(tmp, "b0_early.parquet")
        b1 = os.path.join(tmp, "b1_advance.parquet")
        pq.write_table(t.filter(pc.field("ts") < split), b0)
        pq.write_table(
            t.filter(
                (pc.field("ts") >= adv) & (pc.field("event_type") == "purchase")
            ),
            b1,
        )
        order_by_mtime([b0, b1])

    return staged("ojoin", build, sf_dir)


@register(
    "d25_stream_outer_join",
    # Emission model (measured, Spark 4.1): inner matches emit in the batch
    # where both sides are present (batch 0); outer nulls emit during batch
    # 1 via state eviction, which uses the watermark committed at the END
    # of batch 0 — and the GLOBAL watermark is the MIN of the two
    # per-stream watermarks, each advanced by its own filtered stream's
    # max ts: W1 = least(max view ts, max purchase ts) - delay. A left row
    # is evictable when its whole join window has passed:
    # v_ts + interval < W1. Views in the last (delay + interval) before
    # the early cutoff stay in state when the bounded stream ends and are
    # withheld — the oracle excludes them with the same closed-form bound.
    oracle=f"""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    w1 AS (
      -- The eviction watermark is the one committed at the END of batch 1:
      -- min over per-stream watermarks, where the purchases-only advancer
      -- has pushed the purchase side far ahead -> W = max view ts - delay.
      -- (Discriminated from least(maxv, maxp) by the full-outer twin's
      -- purchase-null count at sf0.001; for the left-outer's view-null
      -- bound both spellings agree on the fixtures.)
      SELECT (SELECT max(ts) FROM v) - INTERVAL {OUTER_DELAY} AS w
    ),
    matched AS (
      SELECT v.view_id, p.purchase_id, v.user_id, v.ts AS vts
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL {OUTER_INTERVAL}
    )
    SELECT view_id, purchase_id, user_id,
           strftime(vts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM matched
    UNION ALL
    SELECT v.view_id, CAST(NULL AS BIGINT), v.user_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S')
    FROM v, w1
    WHERE v.view_id NOT IN (SELECT view_id FROM matched)
      AND v.ts + INTERVAL {OUTER_INTERVAL} < w1.w
    ORDER BY view_id, purchase_id
    """,
)
def d25_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT OUTER join: the inner half emits matches as
    they meet; the outer half must WAIT until the watermark proves a view
    can never match (state eviction) — which only happens in a LATER batch,
    so the staging ships a purchases-only watermark advancer as batch 1.
    Unmatched views whose join window survives the last eviction are
    withheld, exactly as on an unbounded stream. The oracle recomputes
    both halves in closed form (max-ts -> W1 -> eviction bound).

    Scale shape: state per key is bounded by delay + interval on both
    sides — the interval condition is what makes a 100 TB stream-stream
    join feasible at all, and the outer emission latency IS the watermark
    delay (the price of correct null semantics under out-of-order data)."""
    stage = _stage_outer_join(spark, sf_dir)
    views = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", OUTER_DELAY)
    )
    purchases = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", OUTER_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr(f"INTERVAL {OUTER_INTERVAL}")),
        "leftOuter",
    )
    q = run_bounded(joined, "ojoin", mode="append", state_partitions=8)
    return (
        spark.table(q.name)
        .select(
            "view_id",
            "purchase_id",
            "user_id",
            F.date_format("v_ts", _TS_FMT).alias("view_ts"),
        )
        .orderBy("view_id", "purchase_id")
    )


@register(
    "d25_stream_semi_join",
    # LEFT SEMI emits a view row AT MOST ONCE, in the batch where its first
    # matching purchase is co-present in state — no watermark wait for the
    # emitted set (eviction only bounds state), so the oracle is the plain
    # EXISTS over the early window with no eviction-boundary term.
    oracle=f"""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    p AS (
      SELECT user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    )
    SELECT v.view_id, v.user_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
    FROM v
    WHERE EXISTS (
      SELECT 1 FROM p
      WHERE p.user_id = v.user_id
        AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL {OUTER_INTERVAL}
    )
    ORDER BY view_id
    """,
)
def d25_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream LEFT SEMI join — the third member of the stream
    join matrix (inner: d25_stream_stream_join, left outer:
    d25_stream_outer_join). Semi emits each qualifying view exactly once
    and never duplicates it per match, the 'which sessions converted'
    filter without the match payload.

    Scale shape: same keyed state as the inner join (bounded by
    delay + interval on both sides), but the output — and any downstream
    shuffle — carries each left row at most once, which is the point of
    choosing semi over inner-then-distinct on a 100 TB stream: the
    dedup happens IN the join state, not as a second stateful stage."""
    stage = _stage_outer_join(spark, sf_dir)
    views = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", OUTER_DELAY)
    )
    purchases = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", OUTER_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr(f"INTERVAL {OUTER_INTERVAL}")),
        "leftSemi",
    )
    q = run_bounded(joined, "sjoin", mode="append", state_partitions=8)
    return (
        spark.table(q.name)
        .select(
            "view_id",
            "user_id",
            F.date_format("v_ts", _TS_FMT).alias("view_ts"),
        )
        .orderBy("view_id")
    )


# --------------------------------------------------------------------------
# D28b — dropDuplicatesWithinWatermark: TTL-scoped dedup state (Spark 3.5+)
# --------------------------------------------------------------------------
DDW_SPLIT = "2024-01-10 00:00:00"  # bounded early universe for the staging
DDW_DELAY = "1 hour"


DDW_ADV_BASE = 2_000_000_000  # advancer key space, disjoint from real ids
DDW_ADV_N = 5


def _stage_ddw(spark: SparkSession, sf_dir: str) -> str:
    """Stage a duplicated purchase log as THREE micro-batches:
    batch 0 = each early purchase TWICE (exact duplicates, same event time);
    batch 1 = DDW_ADV_N fresh-key advancer rows at M + 1h (M = max batch-0
    ts) — they emit as new keys and, at the END of batch 1, push the
    committed watermark to M, which evicts batch-0 state with
    ts + delay < M (eviction runs at end-of-batch, AFTER that batch's
    input is processed — measured: a copy arriving in the SAME batch the
    watermark advances is still deduped against live state);
    batch 2 = one more copy, stamped M + 1h, for keys in two decidable
    bands only: clearly-expired (ts < M - 2h -> re-emits) and clearly-live
    (ts > M - 30min -> still dropped). Keys near the eviction boundary get
    NO copy, so the assertion never rests on a <-vs-<= edge."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        split = pc.strptime(DDW_SPLIT, format="%Y-%m-%d %H:%M:%S", unit="ns")
        t = t.filter(
            (pc.field("event_type") == "purchase") & (pc.field("ts") < split)
        ).select(["event_id", "user_id", "ts", "value"])
        m = pc.max(t.column("ts")).as_py()
        ts_type = t.schema.field("ts").type  # us at some sfs, NANOS at others
        far_ts = m + pd_timedelta_hours(1)
        adv = pa.table(
            {
                "event_id": pa.array(
                    [DDW_ADV_BASE + k for k in range(DDW_ADV_N)],
                    t.schema.field("event_id").type,
                ),
                "user_id": pa.array(
                    [-1] * DDW_ADV_N, t.schema.field("user_id").type
                ),
                "ts": pa.array([far_ts] * DDW_ADV_N, ts_type),
                "value": pa.array(
                    [0.0] * DDW_ADV_N, t.schema.field("value").type
                ),
            }
        )
        band = t.filter(
            (pc.field("ts") < pa.scalar(m - pd_timedelta_hours(2), ts_type))
            | (
                pc.field("ts")
                > pa.scalar(m - pd_timedelta_minutes(30), ts_type)
            )
        )
        far = band.set_column(
            band.schema.get_field_index("ts"),
            "ts",
            pa.array([far_ts] * band.num_rows, ts_type),
        )
        files = [
            os.path.join(tmp, f)
            for f in ("b0_dups.parquet", "b1_advance.parquet", "b2_far.parquet")
        ]
        for table, path in zip((pa.concat_tables([t, t]), adv, far), files):
            pq.write_table(table, path)
        order_by_mtime(files)

    return staged("ddw", build, sf_dir)


def pd_timedelta_hours(h: int):
    import datetime

    return datetime.timedelta(hours=h)


def pd_timedelta_minutes(m: int):
    import datetime

    return datetime.timedelta(minutes=m)


@register(
    "d28_dedup_within_watermark",
    # Emission model (measured, Spark 4.1): batch 0 emits each event_id
    # ONCE (the exact duplicate hits live state). State eviction runs at
    # END of batch, with the watermark that batch advanced — so a copy
    # arriving in the same batch as the advancement is still deduped
    # (measured: 0 re-admissions in a 2-batch staging). After batch 1 the
    # committed watermark is M; batch-2 copies (stamped M + 1h, never
    # late) re-emit exactly for keys whose state expired: ts + delay < M.
    # Staging only ships copies for keys clearly on one side of that
    # bound (< M - 2h or > M - 30min), so no <-vs-<= edge is asserted.
    oracle=f"""
    WITH p AS (
      SELECT event_id, user_id, ts, ROUND(value, 4) AS value FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '{DDW_SPLIT}'
    ),
    m AS (SELECT max(ts) AS m FROM p)
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
    FROM p
    UNION ALL
    SELECT CAST({DDW_ADV_BASE} + k AS BIGINT), CAST(-1 AS BIGINT),
           strftime(m.m + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'), 0.0
    FROM m, unnest([0, 1, 2, 3, 4]) AS t(k)
    UNION ALL
    SELECT p.event_id, p.user_id,
           strftime(m.m + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'), p.value
    FROM p, m
    WHERE p.ts < m.m - INTERVAL 2 HOUR
    ORDER BY event_id, ts_s
    """,
)
def d28_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` end to end — dedup state with a
    TTL instead of forever-keys: a duplicate arriving while its key's
    state lives is dropped; once the watermark passes the kept record's
    event time + delay the state is evicted and the SAME key admits again.
    Three genuine micro-batches: batch 0 proves in-state dedup (exact
    duplicates), batch 1 advances the watermark (fresh keys), batch 2
    proves both TTL eviction (old keys re-emit) and retained state
    (recent keys still drop).

    Scale shape: this is THE bounded-state dedup for infinite streams —
    classic dropDuplicates state grows with distinct keys forever, the
    within-watermark variant's state is bounded by keys-per-delay-window,
    which is what a 100 TB/day event stream needs."""
    stage = _stage_ddw(spark, sf_dir)
    src = file_stream(spark, stage)
    deduped = src.withWatermark("ts", DDW_DELAY).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = run_bounded(deduped, "ddw", mode="append", state_partitions=8)
    return (
        spark.table(q.name)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("event_id", "ts_s")
    )


# --------------------------------------------------------------------------
# D27 extension — last-touch attribution (single-pass window, join-free)
# --------------------------------------------------------------------------
ATTR_WINDOW_S = 7 * 86400  # attribution lookback: 7 days


@register(
    "d27_attribution",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type IN ('view', 'purchase')
    ), a AS (
      SELECT event_id, user_id, ts, event_type,
             MAX(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS lv
      FROM e
    )
    SELECT event_id AS purchase_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           strftime(lv, '%Y-%m-%d %H:%M:%S') AS last_view_s,
           CAST(CASE WHEN lv IS NOT NULL
                      AND epoch_us(ts) - epoch_us(lv)
                          <= {ATTR_WINDOW_S} * CAST(1000000 AS BIGINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS attributed
    FROM a WHERE event_type = 'purchase'
    ORDER BY purchase_id
    """,
)
def d27_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's most
    recent PRECEDING view, if one happened within the 7-day lookback — the
    marketing-analytics twin of the as-of join, spelled as a single
    analytic window over the unioned event stream instead of a join.

    Scale shape: join-free — ONE shuffle on user_id, then a running
    MAX(view ts) carried down each user's timeline; per-row state is one
    timestamp regardless of history length. The as-of-join spelling
    (d08_asof_join) shuffles BOTH relations; this form shuffles the one
    event log it already has, so at 100 TB it's strictly cheaper whenever
    views and purchases live in the same log."""
    from pyspark.sql import Window

    ev = (
        Catalog(spark, sf_dir)
        .events.where(F.col("event_type").isin("view", "purchase"))
        .select("event_id", "user_id", "ts", "event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lv = F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    a = ev.withColumn("lv", lv)
    return (
        a.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts_s"),
            F.date_format("lv", _TS_FMT).alias("last_view_s"),
            # integer MICROseconds on both sides (oracle: epoch_us) — a
            # seconds-cast truncates sub-second gap components and flips
            # purchases within ~1 s of exactly 7 days (the d14_time_range_sum
            # divergence class)
            F.when(
                F.col("lv").isNotNull()
                & (
                    F.unix_micros("ts") - F.unix_micros("lv")
                    <= ATTR_WINDOW_S * 1_000_000
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("attributed"),
        )
        .orderBy("purchase_id")
    )


# --------------------------------------------------------------------------
# D26d — UPDATE output mode (per-batch changed-row emission; the third and
# final output mode, complete/append being covered above)
# --------------------------------------------------------------------------
def _stage_parity_batches(spark: SparkSession, sf_dir: str) -> str:
    """Stage click events as TWO single parquet files split by event_id
    PARITY — both batches cover the SAME time range, so hour windows
    receive rows in both micro-batches and update mode must re-emit them
    with accumulated state (the behavior neither append nor complete can
    show per-batch). File order pinned via mtime."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet")).filter(
            pc.field("event_type") == "click"
        )
        even = pc.equal(pc.bit_wise_and(pc.field("event_id"), 1), 0)
        b0 = os.path.join(tmp, "b0_even.parquet")
        b1 = os.path.join(tmp, "b1_odd.parquet")
        pq.write_table(t.filter(even), b0)
        pq.write_table(t.filter(pc.invert(even)), b1)
        order_by_mtime([b0, b1])

    return staged("parity", build, sf_dir)


@register(
    "d26_update_mode",
    # Update mode re-emits a window every batch its state CHANGES; the
    # readout keeps, per window, the row with the highest count — state is
    # append-only within a window, so that row is the final state, and it
    # must equal the plain batch aggregate over ALL click events. A
    # batch-local (non-stateful) engine would emit two partial rows whose
    # max is the LARGER HALF, not the total — the oracle catches exactly
    # that.
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE event_type = 'click'
    GROUP BY date_trunc('hour', ts)
    ORDER BY window_start
    """,
)
def d26_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE output mode across two genuine micro-batches that BOTH feed
    the same hour windows (parity-split staging): every batch emits only
    the windows whose state changed, carrying the accumulated (not
    batch-local) aggregate. The readout folds the update log to its final
    row per window — the MERGE a downstream keyed sink (Delta/JDBC upsert)
    would apply — and certifies it equals the batch aggregate.

    Scale shape: update mode is the low-latency middle ground — unlike
    complete it emits O(changed windows) per batch, unlike append it does
    not wait out the watermark; state is one row per open window, bounded
    by the (generous here, so nothing drops) watermark delay. At 100 TB
    the sink must be keyed-upsert-capable, exactly what the readout
    models."""
    stage = _stage_parity_batches(spark, sf_dir)
    stream = file_stream(spark, stage)
    agg = (
        stream.withWatermark("ts", "90 days")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    q = run_bounded(agg, "upd_mode", mode="update", state_partitions=8)
    log = spark.table(q.name)
    # keyed-upsert fold: per window keep the update with the highest count
    # (state is append-only within a window -> that IS the final state)
    final = log.groupBy("w").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )
    return final.select(
        F.date_format("w.start", _TS_FMT).alias("window_start"),
        "n_events",
        F.round("sum_value", 4).alias("sum_value"),
    ).orderBy("window_start")


# --------------------------------------------------------------------------
# D26e — CHAINED stateful aggregations (Spark-4 multiple-stateful-operator
# support: hourly window agg -> daily rollup of the hourly windows, ONE
# streaming query)
# --------------------------------------------------------------------------
@register(
    "d26_chained_agg",
    # Emission model (measured, Spark 4.1, two micro-batches via the
    # _stage_late_arrival fixture): with TWO chained stateful operators the
    # input-side late-record filter uses the MINIMUM across operator
    # watermarks, and the downstream operator's watermark lags one batch —
    # so batch 1's below-watermark rows are ADMITTED at the hourly stage
    # (unlike the single-operator query d26_append_finalize, where the
    # same rows are dropped), flow into their already-expired hourly
    # windows, and finalize immediately. Every daily window whose end has
    # passed the final committed watermark W = max(ts) - delay emits with
    # its FULL (both-batch) aggregate; the open tail past W is withheld.
    oracle=f"""
    WITH wm AS (
      SELECT max(ts) - INTERVAL '{LATE_DELAY}' AS w FROM events
    )
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events, wm
    GROUP BY date_trunc('day', ts), wm.w
    HAVING date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
    ORDER BY day
    """,
)
def d26_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful aggregation in ONE streaming query (Spark 4's
    multiple-stateful-operator support): hourly tumbling aggregate →
    daily rollup over the hourly windows (``window_time`` re-windowing),
    append mode, across two genuine micro-batches. The hourly pre-
    aggregation is the streaming form of partial aggregation: the daily
    operator's state holds at most 24 hourly rows per day instead of the
    raw events — the cascade every high-volume metrics pipeline runs
    (events → minute → hour → day) without landing intermediate tables.

    Scale shape: state is bounded at BOTH levels by the same watermark
    (hours evict after delay, days after the day closes past it); the
    shuffle between the stages carries hourly partials, ~3 orders of
    magnitude fewer rows than events at 100 TB."""
    stage = _stage_late_arrival(spark, sf_dir)
    stream = file_stream(spark, stage)
    hourly = (
        stream.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    daily = (
        hourly.groupBy(F.window(F.window_time("w"), "1 day").alias("d"))
        .agg(F.sum("n").alias("n_events"), F.sum("sv").alias("sum_value"))
    )
    q = run_bounded(daily, "chain", mode="append", state_partitions=8, timeout=180)
    return (
        spark.table(q.name)
        .select(
            F.date_format("d.start", "yyyy-MM-dd").alias("day"),
            "n_events",
            F.round("sum_value", 4).alias("sum_value"),
        )
        .orderBy("day")
    )


@register(
    "d25_stream_full_outer",
    # Emission model (measured at sf0.01 AND sf0.001, Spark 4.1, same
    # two-batch staging as the left-outer): matches emit in batch 0; null
    # rows emit via state eviction against the watermark committed at the
    # END of batch 1 — W = min over streams of (max ts seen) - delay,
    # and because the batch-1 advancer raises only the PURCHASE side far
    # ahead, W = max(early view ts) - delay. (A least(maxv, maxp) over
    # the early window alone matches at sf0.01 only by coincidence —
    # maxv < maxp there; sf0.001 has maxv > maxp and discriminates:
    # 137 purchase-nulls = p < Wv, not 135 = p < least.) Eviction bounds
    # differ per side because the join window is asymmetric
    # (p in [v, v + interval)): a VIEW is evictable when its whole window
    # passed (v_ts + interval < W), a PURCHASE when no earlier view can
    # still arrive (p_ts < W). The advancer purchases stay in state and
    # are withheld, as on an unbounded stream.
    oracle=f"""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    w1 AS (
      SELECT (SELECT max(ts) FROM v) - INTERVAL {OUTER_DELAY} AS w
    ),
    matched AS (
      SELECT v.view_id, p.purchase_id, v.user_id AS vu, p.user_id AS pu
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL {OUTER_INTERVAL}
    )
    SELECT view_id, purchase_id, vu AS user_id FROM matched
    UNION ALL
    SELECT v.view_id, CAST(NULL AS BIGINT), v.user_id
    FROM v, w1
    WHERE v.view_id NOT IN (SELECT view_id FROM matched)
      AND v.ts + INTERVAL {OUTER_INTERVAL} < w1.w
    UNION ALL
    SELECT CAST(NULL AS BIGINT), p.purchase_id, p.user_id
    FROM p, w1
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
      AND p.ts < w1.w
    ORDER BY view_id NULLS LAST, purchase_id NULLS LAST
    """,
)
def d25_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-stream FULL OUTER join — completes the stream-join
    matrix (inner / left outer / left semi / full outer). Both sides'
    unmatched rows must wait for watermark-driven state eviction, and the
    eviction bound is DIFFERENT per side because the interval condition is
    asymmetric: a view's join window closes interval-after it, a
    purchase's closes at its own timestamp (no older view can arrive once
    the watermark passes it). The oracle recomputes both eviction sets in
    closed form from the committed watermark.

    Scale shape: identical to the left-outer — per-key state bounded by
    delay + interval on both sides; full-outer adds no state, only the
    second null-emission scan at eviction time. user_id is carried from
    whichever side is present (COALESCE in the readout)."""
    stage = _stage_outer_join(spark, sf_dir)
    views = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", OUTER_DELAY)
    )
    purchases = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", OUTER_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr(f"INTERVAL {OUTER_INTERVAL}")),
        "fullOuter",
    )
    q = run_bounded(joined, "fojoin", mode="append", state_partitions=8, timeout=180)
    return (
        spark.table(q.name)
        .select(
            "view_id",
            "purchase_id",
            F.coalesce("user_id", "p_user").alias("user_id"),
        )
        .orderBy(
            F.col("view_id").asc_nulls_last(),
            F.col("purchase_id").asc_nulls_last(),
        )
    )


# --------------------------------------------------------------------------
# D27 extension — DYNAMIC-GAP session windows (per-event gap expression)
# --------------------------------------------------------------------------
@register(
    "d27_dynamic_gap_session",
    # per-event gap: purchases hold the session open 2 hours, everything
    # else 30 minutes. Island break: an event starts a new session iff its
    # ts has passed the running MAX of (prev ts + prev gap) — the exact
    # merge rule of Spark's session_window interval union.
    oracle="""
    WITH e AS (
      SELECT user_id, ts, value,
             CASE WHEN event_type = 'purchase' THEN INTERVAL 2 HOUR
                  ELSE INTERVAL 30 MINUTE END AS gap
      FROM events
    ), b AS (
      SELECT user_id, ts, value,
             CASE WHEN ts >= MAX(ts + gap) OVER (
                    PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) = 1
                  THEN 1 ELSE 0 END AS brk
      FROM e
    ), s AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM b
    )
    SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
    """,
)
def d27_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT gap expression: a purchase holds
    the session open two hours, any other event thirty minutes — the
    engagement-weighted sessionization product analytics actually wants
    (a conversion shouldn't time out as fast as a stray click). Uses
    Spark's native ``session_window(ts, gap_expr)`` dynamic-gap form; the
    oracle re-derives the identical sessions as a variable-lookback
    gaps-and-islands (running MAX of ts+gap), certifying the interval-
    union merge rule itself.

    Scale shape: one shuffle on user_id; session merge is a sort-based
    single pass per key (SessionWindowStateStore in streaming, sort +
    merge in batch). Same cost as fixed-gap sessionization — the gap
    expression is map-side."""
    ev = Catalog(spark, sf_dir).events
    gap = F.when(F.col("event_type") == "purchase", F.lit("2 hours")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.date_format("sw.start", _TS_FMT).alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# D25 extension — stream-stream RIGHT OUTER join (the fifth and final
# entry of the stream-join matrix: inner / left outer / left semi /
# full outer / right outer)
# --------------------------------------------------------------------------
@register(
    "d25_stream_right_outer",
    # Emission model: identical staging and committed watermark as the
    # full-outer twin (W = max(early view ts) - delay, since the batch-1
    # advancer raises only the purchase side); a right-outer emits
    # matches plus null rows for unmatched PURCHASES only, whose measured
    # eviction bound is p_ts < W (no older view can arrive once the
    # watermark passes the purchase itself) — the full-outer oracle minus
    # its view-null branch.
    oracle=f"""
    WITH v AS (
      SELECT event_id AS view_id, user_id, ts FROM events
      WHERE event_type = 'view' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND ts < TIMESTAMP '{OUTER_SPLIT}'
    ),
    w1 AS (
      SELECT (SELECT max(ts) FROM v) - INTERVAL {OUTER_DELAY} AS w
    ),
    matched AS (
      SELECT v.view_id, p.purchase_id, v.user_id AS vu
      FROM v JOIN p ON v.user_id = p.user_id
       AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL {OUTER_INTERVAL}
    )
    SELECT view_id, purchase_id, vu AS user_id FROM matched
    UNION ALL
    SELECT CAST(NULL AS BIGINT), p.purchase_id, p.user_id
    FROM p, w1
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
      AND p.ts < w1.w
    ORDER BY view_id NULLS LAST, purchase_id NULLS LAST
    """,
)
def d25_stream_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream RIGHT OUTER join — the mirror of the left-outer that
    completes the five-way stream-join matrix. State and eviction are the
    full-outer's purchase side verbatim (p_ts < W once the watermark
    passes the purchase, since the interval condition p in
    [v, v+interval) admits no later-arriving older view); only the
    null-emission side differs from the left-outer twin.

    Scale shape: same bounded per-key state as the other stream joins
    (delay + interval per side); choosing left vs right outer is a
    semantics decision, not a cost one."""
    stage = _stage_outer_join(spark, sf_dir)
    views = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", OUTER_DELAY)
    )
    purchases = (
        file_stream(spark, stage)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", OUTER_DELAY)
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") < F.col("v_ts") + F.expr(f"INTERVAL {OUTER_INTERVAL}")),
        "rightOuter",
    )
    q = run_bounded(joined, "rojoin", mode="append", state_partitions=8, timeout=180)
    return (
        spark.table(q.name)
        .select(
            "view_id",
            "purchase_id",
            F.coalesce("user_id", "p_user").alias("user_id"),
        )
        .orderBy(
            F.col("view_id").asc_nulls_last(),
            F.col("purchase_id").asc_nulls_last(),
        )
    )


# --------------------------------------------------------------------------
# D26 extension — late-data DROP METRICS (numRowsDroppedByWatermark as a
# first-class, queryable observable)
# --------------------------------------------------------------------------
LATE_CUTOFF = "2024-01-10 00:00:00"  # batch 0: on-time rows before this
LATE_OLD = "2024-01-02 00:00:00"  # batch 1 re-emits rows before this (late)


def _stage_late_metrics(spark: SparkSession, sf_dir: str) -> str:
    """THREE-batch staging (the late-input filter lags the watermark by
    one batch — measured here and pinned by the D26 behavior test, so a
    late row is only filtered once it arrives two batches after the rows
    that advanced the watermark): batch 0 = all events before LATE_CUTOFF
    (advances the watermark to max(ts) - delay at its commit); batch 1 =
    a re-emit of the final pre-cutoff day (advancer — keeps the committed
    watermark in place and makes it the FILTER watermark for batch 2);
    batch 2 RE-EMITS every event before LATE_OLD with its original
    timestamp — each arrives more than a week below the filter watermark,
    so the state store must count every one of their windows in
    numRowsDroppedByWatermark (the metric counts rows REACHING the state
    operator — after partial+merge aggregation that is one row per
    expired window, not one per raw late input row; measured and
    pinned)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "events.parquet"))
        cut = pc.strptime(LATE_CUTOFF, format="%Y-%m-%d %H:%M:%S", unit="ns")
        adv = pc.strptime("2024-01-09 00:00:00", format="%Y-%m-%d %H:%M:%S", unit="ns")
        old = pc.strptime(LATE_OLD, format="%Y-%m-%d %H:%M:%S", unit="ns")
        batches = {
            "b0_ontime.parquet": pc.field("ts") < cut,
            "b1_advance.parquet": (pc.field("ts") >= adv) & (pc.field("ts") < cut),
            "b2_late.parquet": pc.field("ts") < old,
        }
        files = [os.path.join(tmp, f) for f in batches]
        for path, pred in zip(files, batches.values()):
            pq.write_table(t.filter(pred), path)
        order_by_mtime(files)

    return staged("latem", build, sf_dir)


@register("d26_late_drop_metrics", oracle=None)
def d26_late_drop_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data drop accounting: run a watermarked windowed aggregate over
    a three-batch stream whose final batch is ENTIRELY late (a week below
    the filter watermark) and surface the state store's
    ``numRowsDroppedByWatermark`` as a queryable one-row result, next to
    the emitted-window count. This is the observability half of the D26
    late-data contract: the behavior tests pin WHAT is dropped;
    this operator certifies the pipeline can REPORT how much was
    dropped — the metric an ingest SLO alerts on at 100 TB. Non-oracle
    (progress metrics are engine-internal); pytest pins the exact
    expected drop count from the staged content.

    Scale shape: metrics come from StreamingQueryProgress (driver-side,
    O(batches) tiny dicts) — zero extra data-path cost."""
    agg = (
        file_stream(spark, _stage_late_metrics(spark, sf_dir))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = run_bounded(agg, "latem", mode="append", state_partitions=8)
    dropped = sum(
        int(so.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for so in p.get("stateOperators", [])
    )
    emitted = spark.table(q.name).count()
    return spark.createDataFrame(
        [(dropped, emitted)], "late_rows_dropped long, windows_emitted long"
    )


# --------------------------------------------------------------------------
# D25 extension (round 6) — the built-in rate-micro-batch source: Spark's
# deterministic load-generator connector (the third source family after
# file and custom-Python sources)
# --------------------------------------------------------------------------
RATE_ROWS_PER_BATCH = 100
RATE_TARGET_ROWS = 500


@register(
    "d25_rate_source",
    oracle=f"""
    SELECT TIMESTAMP '1970-01-01 00:00:00'
             + (v // {RATE_ROWS_PER_BATCH}) * INTERVAL 1 SECOND AS batch_ts,
           COUNT(*) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_value
    FROM (SELECT UNNEST(range(0, {RATE_TARGET_ROWS})) AS v)
    GROUP BY 1
    ORDER BY batch_ts
    """,
)
def d25_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The built-in ``rate-micro-batch`` streaming source with a PINNED
    clock: startTimestamp=0 and advanceMillisPerBatch=1000 make both the
    value sequence AND the event timestamps closed-form (batch b carries
    values [b*R, (b+1)*R) all stamped epoch+b seconds), so a per-batch
    aggregate of the ingested stream is hash-comparable against pure SQL
    over range() — source determinism, partitioned generation
    (numPartitions=4) and stream-side timestamp typing all on the hash.
    The final select restricts to value < target so trailing batches the
    poll loop may or may not have admitted can never change the result.

    Scale shape: the rate source is the standard backpressure/throughput
    rig — on a cluster you point it at the real sink config and measure
    steady-state micro-batch latency; generation is partitioned and
    driver-free (unlike the Python SimpleDataSourceStreamReader's
    driver-prefetch path, the contrast documented there)."""
    stream = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(RATE_ROWS_PER_BATCH))
        .option("numPartitions", "4")
        .option("startTimestamp", "0")
        .option("advanceMillisPerBatch", "1000")
        .load()
    )
    table = f"rate_src_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    await_rows(
        q,
        spark.table(table).where(F.col("value") < RATE_TARGET_ROWS),
        RATE_TARGET_ROWS,
        120,
    )
    # the result builds its own sink view and filter: sharing either with the
    # DataFrame the poll counted kept about 13 MB more JVM heap live after a
    # stream_state benchmark run
    return (
        spark.table(table)
        .where(F.col("value") < RATE_TARGET_ROWS)
        .groupBy(F.col("timestamp").alias("batch_ts"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_value"),
        )
        .orderBy("batch_ts")
    )


# --------------------------------------------------------------------------
# D26 extension (round 9) — STREAMING session windows: merging session
# state across genuine micro-batches, append-mode finalization
# --------------------------------------------------------------------------
SESSION_STREAM_GAP = "30 minutes"
SESSION_STREAM_DELAY = "2 hours"
SESSION_STREAM_CHUNKS = 3


def _stage_time_chunks(spark: SparkSession, sf_dir: str, n: int) -> str:
    """Stage events as n TIME-CONTIGUOUS parquet chunks (global sort by
    (ts, event_id), chunk = rn*n div total) with ascending mtimes, so the
    event-time watermark advances monotonically across micro-batches and
    timer firing is DETERMINISTIC — the oracle recomputes the same chunk
    boundaries in SQL."""
    from pyspark.sql import Window

    def build(tmp: str) -> None:
        ev = Catalog(spark, sf_dir).events
        total = ev.count()
        # FIXTURE-ONLY: this unpartitioned global-sort window funnels all rows
        # through one task. Acceptable for staging sf-sized replay fixtures on
        # the driver; a production time-chunker would repartitionByRange(ts)
        # and derive chunk ids from range boundaries instead.
        w = Window.orderBy("ts", "event_id")
        chunked = ev.withColumn("rn", F.row_number().over(w) - 1).withColumn(
            "chunk", F.expr(f"(rn * {n}) div {total}")
        )
        files = [os.path.join(tmp, f"b{i}.parquet") for i in range(n)]
        for i, path in enumerate(files):
            part = chunked.where(F.col("chunk") == i).drop("rn", "chunk").toPandas()
            # write MICROsecond timestamps: pandas' default ns unit would land
            # as parquet TIMESTAMP(NANOS), which this session's nanosAsLong
            # config reads back as BIGINT — breaking withWatermark
            part["ts"] = part["ts"].dt.tz_localize("UTC").dt.as_unit("us")
            part.to_parquet(path, index=False)
        order_by_mtime(files)

    return staged(f"timechunks{n}", build, sf_dir)


@register(
    "d26_stream_session_window",
    # Closed-form oracle: time-contiguous chunks keep the watermark
    # monotone with arrival (no late data), so the streamed sessions are
    # exactly the batch gaps-and-islands sessions whose END (last event +
    # gap) is <= the FINAL watermark. Spark truncates event times to ms
    # before the watermark subtraction (EventTimeStatsAccum), mirrored
    # with epoch_ms below; sessions ending above W stay open when the
    # bounded stream ends and are WITHHELD (append-mode contract).
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000
                            - CAST(7200 AS BIGINT) * 1000000) AS w
      FROM events
    ), marks AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN lag(ts) OVER uw IS NULL
                    OR ts - lag(ts) OVER uw > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sess, wm
    GROUP BY user_id, sid, wm.w
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm.w
    ORDER BY user_id, session_start
    """,
)
def d26_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows end to end: F.session_window under a real
    multi-micro-batch run (3 time-contiguous chunks, maxFilesPerTrigger=1)
    with a 2-hour watermark, append mode. This exercises the one piece the
    batch d27_session_window twin cannot: MERGING session state across
    batches — a session whose events straddle a chunk boundary must fuse
    into one state-store entry (gap merge), and only sessions whose end
    has passed the watermark are finalized into the sink; the open tail
    is withheld.

    Scale shape (100 TB): state is one row per OPEN session per user —
    the watermark bounds it exactly as it bounds window state; session
    merge is a per-key state-store operation, never a shuffle of history."""
    stage = _stage_time_chunks(spark, sf_dir, SESSION_STREAM_CHUNKS)
    return run_session_stream_on_stage(spark, stage)


def run_session_stream_on_stage(spark: SparkSession, stage: str) -> DataFrame:
    """The d26_stream_session_window pipeline over an arbitrary staged
    chunk directory — split out so the boundary-tie pin
    (tests/test_streaming.py) can replay a CONSTRUCTED fixture whose
    session end coincides with the final watermark to the millisecond."""
    stream = file_stream(spark, stage)
    agg = (
        stream.withWatermark("ts", SESSION_STREAM_DELAY)
        .groupBy(
            F.session_window("ts", SESSION_STREAM_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    q = run_bounded(agg, "sess_stream", mode="append", state_partitions=8, timeout=180)
    return (
        spark.table(q.name)
        .select(
            "user_id",
            F.date_format("w.start", _TS_FMT).alias("session_start"),
            F.date_format("w.end", _TS_FMT).alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# D26 extension (round 12) — STREAMING drift monitor: per-day population
# stability index of the event-type mix vs a static reference
# --------------------------------------------------------------------------
DRIFT_DELAY = "2 hours"
DRIFT_CHUNKS = 3
DRIFT_DEC = 8  # per-term rounding before the exact decimal sum


@register(
    "d26_stream_drift_psi",
    # Closed-form oracle via the session-window discipline: tumbling
    # 1-day windows finalize when day_end <= final watermark (ms-truncated
    # max ts minus the delay); withheld days are absent in both engines.
    # PSI terms (p-q)*ln(p/q) are each >= 0 and rounded to 8 decimals
    # before an exact DECIMAL sum, so the one libm call per (day, type)
    # cell never compounds. Laplace smoothing (+1 over n+T) keeps
    # zero-count cells finite with the identical closed form both sides.
    oracle="""
    WITH wm AS (
      SELECT make_timestamp(epoch_ms(max(ts)) * 1000
                            - CAST(7200 AS BIGINT) * 1000000) AS w
      FROM events
    ), base AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cb
      FROM events GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(cb) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS t
      FROM base
    ), days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS cd
      FROM events, wm
      WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
      GROUP BY 1, 2
    ), dtot AS (
      SELECT day, CAST(SUM(cd) AS BIGINT) AS nd FROM days GROUP BY day
    ), terms AS (
      SELECT d.day, d.nd,
             CAST(ROUND(
               ((CAST(COALESCE(x.cd, 0) + 1 AS DOUBLE) / (d.nd + tot.t))
                - (CAST(b.cb + 1 AS DOUBLE) / (tot.n + tot.t)))
               * ln((CAST(COALESCE(x.cd, 0) + 1 AS DOUBLE) / (d.nd + tot.t))
                    / (CAST(b.cb + 1 AS DOUBLE) / (tot.n + tot.t))), 8)
               AS DECIMAL(12,8)) AS term
      FROM dtot d CROSS JOIN base b CROSS JOIN tot
      LEFT JOIN days x ON x.day = d.day AND x.event_type = b.event_type
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, nd AS n_events,
           ROUND(CAST(SUM(term) AS DOUBLE), 4) AS psi
    FROM terms GROUP BY day, nd ORDER BY day
    """,
)
def d26_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING drift monitor: per-day population stability index of the
    event-type mix against the static reference distribution — the
    feature-drift alarm an ML serving pipeline keeps on every categorical
    input (PSI < 0.1 stable, > 0.25 retrain), here run as a REAL
    multi-micro-batch stream: tumbling 1-day windows under a 2-hour
    watermark count (day, type) cells in state, append mode finalizes a
    day only once the watermark passes its end, and the PSI readout joins
    the finalized cells against the batch-computed reference.

    Scale shape (100 TB): streaming state is one counter row per OPEN
    (day, type) window — bounded by the watermark horizon times the type
    vocabulary, independent of event volume; the reference relation is
    |types| rows broadcast onto a |days x types| grid (KB-sized). The
    heavy path (per-event counting) is a streaming partial aggregate —
    map-side combined before state commit, exactly like the batch twin's
    partial agg."""
    stage = _stage_time_chunks(spark, sf_dir, DRIFT_CHUNKS)
    stream = file_stream(spark, stage)
    agg = (
        stream.withWatermark("ts", DRIFT_DELAY)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cd"))
    )
    q = run_bounded(agg, "drift_stream", mode="append", state_partitions=8, timeout=180)
    days = spark.table(q.name).select(
        F.to_date(F.col("w.start")).alias("day"), "event_type", "cd"
    )
    ev = Catalog(spark, sf_dir).events
    base = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    tot = base.agg(
        F.sum("cb").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    dtot = days.groupBy("day").agg(F.sum("cd").cast("long").alias("nd"))
    grid = (
        dtot.crossJoin(F.broadcast(base))
        .crossJoin(F.broadcast(tot))
        .join(days, ["day", "event_type"], "left")
        .select(
            "day",
            "nd",
            (F.coalesce(F.col("cd"), F.lit(0)) + F.lit(1))
            .cast("double")
            .alias("pd_num"),
            (F.col("nd") + F.col("t")).alias("pd_den"),
            (F.col("cb") + F.lit(1)).cast("double").alias("q_num"),
            (F.col("n") + F.col("t")).alias("q_den"),
        )
    )
    p = F.col("pd_num") / F.col("pd_den")
    qq = F.col("q_num") / F.col("q_den")
    terms = grid.select(
        "day",
        "nd",
        F.round((p - qq) * F.log(p / qq), DRIFT_DEC)
        .cast("decimal(12,8)")
        .alias("term"),
    )
    return (
        terms.groupBy("day", "nd")
        .agg(F.round(F.sum("term").cast("double"), 4).alias("psi"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("nd").alias("n_events"),
            "psi",
        )
        .orderBy("day")
    )
