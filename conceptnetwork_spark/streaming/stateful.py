"""Custom stateful streaming operator: per-key running totals via
``applyInPandasWithState`` (SURVEY §2.2 D25-D28 companion — the "custom
stateful operator" surface Structured Streaming exposes beyond the built-in
window/dedup operators).

The reference has no streaming at all (SURVEY §2.1: Beam pipeline is
batch-only), so this is part of the mandated engine extension surface. The
operator keeps (count, sum) per key in explicit GroupState, updates it each
micro-batch, and emits the running value — the building block for
streaming feature backfills (e.g. "events seen per user so far" as a model
feature).

Correctness contract: with all input replayed, the final per-key totals
equal the batch groupBy — pytest forces multiple micro-batches
(maxFilesPerTrigger=1 over a multi-file copy of events) so state genuinely
carries across batches.

Scale: state is partitioned by key across executors (RocksDB-backed state
store in production configs); per-batch work is Arrow-batched pandas.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import scratch_dir, staged
from conceptnetwork_spark.streaming.ops import (
    _stage_time_chunks,
    file_stream,
    run_bounded,
)

_OUT_SCHEMA = "user_id long, n_events long, sum_value double"
_STATE_SCHEMA = "n long, s double"


def stage_event_files(
    spark: SparkSession, sf_dir: str, n_files: int
) -> str:
    """n-file copy of events for maxFilesPerTrigger replay."""

    def build(tmp: str) -> None:
        catalog(spark, sf_dir).events.repartition(n_files).write.mode(
            "overwrite"
        ).parquet(tmp)

    return staged(f"events{n_files}", build, sf_dir)


def _update_totals(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
    )


def running_totals(events: DataFrame) -> DataFrame:
    """Streaming DataFrame -> per-user running (count, sum(value)) with
    explicit state; emits the updated total once per key per micro-batch."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_totals(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """Replay events through ``running_totals`` in n_files micro-batches
    (maxFilesPerTrigger=1) and return the FINAL per-user totals.

    The multi-file staging forces state to carry across micro-batches —
    a single-batch run would never exercise ``state.exists``.
    """
    stream = file_stream(spark, stage_event_files(spark, sf_dir, n_files))
    q = run_bounded(
        running_totals(stream),
        "stateful_totals",
        mode="update",
        state_partitions=8,
        timeout=180,
    )
    # update-mode memory sink appends one row per key per batch; the final
    # totals are the per-key max (counts are monotone)
    from pyspark.sql import functions as F

    return (
        spark.table(q.name)
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D25/D28 companion — Spark 4 native stateful API (transformWithStateInPandas)
# --------------------------------------------------------------------------
def _twsp_available() -> bool:
    """transformWithStateInPandas needs the StatefulProcessor API (Spark 4+)
    AND google.protobuf (its state-server wire protocol). The container
    ships no protobuf, so ensure_protobuf() falls back to the vendored
    pure-Python runtime (conceptnetwork_spark/vendor/, public wire-format
    implementation) — a real installation always takes precedence."""
    from conceptnetwork_spark.protoshim import ensure_protobuf

    if not ensure_protobuf():
        return False
    try:
        from pyspark.sql.streaming.stateful_processor import (  # noqa: F401
            StatefulProcessor,
        )
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


def first_seen_processor():
    """Build the per-user (first_seen, n_events) StatefulProcessor —
    module-level factory so the 10^6-key state-cardinality stress test
    (tests/test_streaming.py) drives the IDENTICAL production processor,
    not a copy. Imports stay inside: the StatefulProcessor API only exists
    where TWSP_AVAILABLE."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    class FirstSeenProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "agg",
                StructType(
                    [
                        StructField("first_ts", TimestampType()),
                        StructField("n", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            # ValueState.get() returns None when unset (documented), so a
            # separate exists() probe is a redundant state-server RPC per
            # (key, batch) — at 100 TB the state server round-trip count
            # is the TWS cost driver (r13, guide §4)
            st = self._state.get()
            first_ts, n = st if st is not None else (None, 0)
            for pdf in rows:
                n += len(pdf)
                batch_min = pdf["ts"].min()
                if first_ts is None or batch_min < first_ts:
                    first_ts = batch_min
            self._state.update((first_ts, n))
            yield pd.DataFrame(
                {"user_id": [key[0]], "first_seen": [first_ts], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    return FirstSeenProcessor()


FIRST_SEEN_SCHEMA = "user_id long, first_seen timestamp, n_events long"


def run_first_seen_stats(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 3,
) -> DataFrame:
    """Per-user (first_seen, n_events) via ``transformWithStateInPandas`` —
    the Spark-4 arbitrary-stateful API (typed ValueState, RocksDB state
    store) that supersedes applyInPandasWithState. State carries across
    micro-batches (maxFilesPerTrigger=1 over a staged multi-file copy), and
    the final emission per key must equal the batch MIN(ts)/COUNT(*).
    """
    from conceptnetwork_spark.protoshim import ship_to_workers

    # the state client runs in the Python WORKER; if the vendored protobuf
    # shim is active, ship it there (addPyFile) in case this session's JVM
    # predates ensure_protobuf()'s PYTHONPATH export
    ship_to_workers(spark)

    raw = _run_tws_update_log(
        spark,
        sf_dir,
        first_seen_processor(),
        FIRST_SEEN_SCHEMA,
        n_files,
    )
    from pyspark.sql import functions as F

    return (
        raw.groupBy("user_id")
        .agg(
            F.max_by("first_seen", "n_events").alias("first_seen"),
            F.max("n_events").alias("n_events"),
        )
        .orderBy("user_id")
    )


def _run_tws_update_log(
    spark: SparkSession,
    sf_dir: str,
    processor,
    output_schema: str,
    n_files: int,
) -> DataFrame:
    """Shared transformWithStateInPandas harness: stage events as n_files
    parquet files, replay with maxFilesPerTrigger=1 (one micro-batch per
    file), run ``processor`` grouped by user_id in UPDATE mode against the
    RocksDB state store, and return the raw update LOG from the memory
    sink (one emission per key per batch it appeared in — callers reduce
    to the final emission, typically via max_by on a monotone counter)."""
    from conceptnetwork_spark.protoshim import ship_to_workers

    # the state client runs in the Python WORKER; if the vendored protobuf
    # shim is active it must be importable there even when this session's
    # JVM predates ensure_protobuf()'s PYTHONPATH export
    ship_to_workers(spark)

    # runs share one staged copy; checkpoints stay unique per run (state
    # stores cannot be shared)
    stream = file_stream(spark, stage_event_files(spark, sf_dir, n_files))
    tws = stream.groupBy("user_id").transformWithStateInPandas(
        processor,
        outputStructType=output_schema,
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store (bundled in Spark 4)
    q = run_bounded(
        tws, "tws", mode="update", state_partitions=8, rocksdb=True, timeout=180
    )
    return spark.table(q.name)


# Explicit, LOUD gating (not a silent conditional): TWSP_AVAILABLE is the
# single source of truth, registry._load_all() warns on the driver when the
# dependency is missing, and tests/test_streaming.py asserts registration
# state matches the environment. On any real Spark 4 cluster (protobuf
# ships with the distribution) the query registers and certifies like
# every other.
TWSP_AVAILABLE = _twsp_available()

if TWSP_AVAILABLE:

    @register(
        "d25_first_seen_tws",
        oracle="""
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_seen_s,
               COUNT(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id
        """,
    )
    def d25_first_seen_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Spark-4 native stateful operator (transformWithStateInPandas +
        typed ValueState + RocksDB store), oracle-checked end to end: events
        replayed in 3 micro-batches; the final per-user (first_seen, count)
        must equal the batch MIN(ts)/COUNT(*) — cross-batch ValueState
        carry-over is load-bearing for the hash to match."""
        from pyspark.sql import functions as F

        out = run_first_seen_stats(spark, sf_dir, n_files=3)
        return out.select(
            "user_id",
            F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias(
                "first_seen_s"
            ),
            "n_events",
        ).orderBy("user_id")


@register(
    "d25_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def d25_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator, oracle-checked end to end: events
    replayed in 4 micro-batches through applyInPandasWithState; with all
    input replayed, the final per-key GroupState totals must equal the plain
    batch GROUP BY — state carry-over across batches is load-bearing for
    the hash to match."""
    from pyspark.sql import functions as F

    out = run_stateful_totals(spark, sf_dir, n_files=4)
    return out.select(
        "user_id", "n_events", F.round("sum_value", 4).alias("sum_value")
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# D25 TWS extensions (round 5) — the OTHER typed-state primitives unlocked
# by the vendored protobuf shim: ListState (bounded top-k buffer) and
# MapState (per-subkey counters). Together with d25_first_seen_tws's
# ValueState these certify the full transformWithState state surface (and,
# incidentally, every ListStateCall/MapStateCall arm of the shim's wire
# protocol) against DuckDB oracles.
# --------------------------------------------------------------------------
def run_topk_values(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> DataFrame:
    """Per-user top-3 event values via a typed ListState holding at most 3
    doubles: each batch merges its values into the buffer and writes back
    with put() — the bounded-buffer pattern (reservoir / beam-search /
    leaderboard state) that ValueState can't express without packing and
    MapState would over-key. State per user is 3 doubles regardless of
    history length — the 100 TB story is the bound itself."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class TopKProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState(
                "topk", StructType([StructField("v", DoubleType())])
            )
            self._seen = handle.getValueState(
                "seen", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            # neither pre-check RPC is needed: an absent ListState iterates
            # empty (the client raises StopIteration on the first fetch)
            # and ValueState.get() is None when unset — exists() was a
            # redundant state-server round-trip per (key, batch) on each
            cur = [t[0] for t in self._top.get()]
            sn = self._seen.get()
            (n,) = sn if sn is not None else (0,)
            for pdf in rows:
                n += len(pdf)
                cur.extend(float(v) for v in pdf["value"])
                cur = sorted(cur, reverse=True)[:3]
            self._top.put([(v,) for v in cur])
            self._seen.update((n,))
            padded = cur + [None] * (3 - len(cur))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_seen": [n],
                    "v1": [padded[0]],
                    "v2": [padded[1]],
                    "v3": [padded[2]],
                }
            )

        def close(self) -> None:
            pass

    raw = _run_tws_update_log(
        spark,
        sf_dir,
        TopKProcessor(),
        "user_id long, n_seen long, v1 double, v2 double, v3 double",
        n_files,
    )
    from pyspark.sql import functions as F

    final = raw.groupBy("user_id").agg(
        F.max("n_seen").alias("n_seen"),
        F.max_by("v1", "n_seen").alias("v1"),
        F.max_by("v2", "n_seen").alias("v2"),
        F.max_by("v3", "n_seen").alias("v3"),
    )
    return final.orderBy("user_id")


def run_type_counts(
    spark: SparkSession, sf_dir: str, n_files: int = 3
) -> DataFrame:
    """Per-(user, event_type) counts via a typed MapState keyed on the
    event_type string: exercises containsKey / getValue / updateValue /
    iterator — the per-subkey counter pattern (feature counters, per-device
    stats) where ValueState would force a full read-modify-write of every
    subkey on each batch. State grows with DISTINCT subkeys per user, not
    with events."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    class TypeCountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._counts = handle.getMapState(
                "counts",
                StructType([StructField("t", StringType())]),
                StructType([StructField("n", LongType())]),
            )

        def handleInputRows(self, key, rows, timerValues):
            for pdf in rows:
                for t, d in pdf.groupby("event_type")["event_type"].count().items():
                    # MapState.getValue() returns None for a missing key
                    # (documented), so the containsKey probe was a third
                    # redundant state-server RPC per (user, type, batch) —
                    # the per-subkey round-trip count IS this operator's
                    # cost at scale (r13, guide §4)
                    cur_t = self._counts.getValue((t,))
                    cur = cur_t[0] if cur_t is not None else 0
                    self._counts.updateValue((t,), (cur + int(d),))
            items = sorted((t[0], n[0]) for t, n in self._counts.iterator())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(items),
                    "event_type": [t for t, _ in items],
                    "n_events": [n for _, n in items],
                }
            )

        def close(self) -> None:
            pass

    raw = _run_tws_update_log(
        spark,
        sf_dir,
        TypeCountProcessor(),
        "user_id long, event_type string, n_events long",
        n_files,
    )
    from pyspark.sql import functions as F

    # final emission per (user, type) = max count (counts are monotone)
    return (
        raw.groupBy("user_id", "event_type")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id", "event_type")
    )


if TWSP_AVAILABLE:

    @register(
        "d25_topk_tws",
        oracle="""
        WITH r AS (
          SELECT user_id, value,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY value DESC, event_id
                 ) AS rk,
                 COUNT(*) OVER (PARTITION BY user_id) AS n_seen
          FROM events
        )
        SELECT user_id, n_seen,
               ROUND(MAX(CASE WHEN rk = 1 THEN value END), 4) AS v1,
               ROUND(MAX(CASE WHEN rk = 2 THEN value END), 4) AS v2,
               ROUND(MAX(CASE WHEN rk = 3 THEN value END), 4) AS v3
        FROM r GROUP BY user_id, n_seen ORDER BY user_id
        """,
    )
    def d25_topk_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Typed ListState bounded buffer, oracle-checked end to end: the
        per-user top-3 values surviving a 3-micro-batch replay must equal
        the batch window top-3 — cross-batch buffer merge is load-bearing
        (any batch may hold any of the top values). The top-3 is a
        VALUE multiset, so equal-value ties cannot diverge between
        engines."""
        from pyspark.sql import functions as F

        out = run_topk_values(spark, sf_dir, n_files=3)
        return out.select(
            "user_id",
            "n_seen",
            F.round("v1", 4).alias("v1"),
            F.round("v2", 4).alias("v2"),
            F.round("v3", 4).alias("v3"),
        ).orderBy("user_id")

    @register(
        "d25_type_counts_tws",
        oracle="""
        SELECT user_id, event_type, COUNT(*) AS n_events
        FROM events GROUP BY user_id, event_type
        ORDER BY user_id, event_type
        """,
    )
    def d25_type_counts_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Typed MapState per-subkey counters, oracle-checked end to end:
        per-(user, event_type) counts accumulated across 3 micro-batches
        must equal the batch GROUP BY — containsKey/getValue/updateValue/
        iterator round-trips through the state server are load-bearing for
        every row."""
        return run_type_counts(spark, sf_dir, n_files=3)


# --------------------------------------------------------------------------
# D25 TWS extension (round 5, wave 2) — EVENT-TIME TIMERS, the last arm of
# the transformWithState API surface (and of the shim's wire protocol:
# TimerStateCallCommand register/list/delete + ExpiryTimerRequest).
# --------------------------------------------------------------------------
# Cohort maturation horizon: 29.5 days against the events table's ~30-day
# span, so the watermark threshold (max ts - horizon) lands INSIDE the
# per-user first-seen distribution — some users mature, some are
# withheld, at every scale factor (the split is data-derived).
MATURE_HORIZON_MS = 29 * 86_400_000 + 43_200_000
TWS_TIMER_FILES = 4


def run_cohort_maturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user cohort maturation via EVENT-TIME TIMERS: the first batch a
    user appears in registers one timer at first_seen + 5 days; when the
    watermark (advanced by later micro-batches) passes it, the timer fires
    and the user's maturation row is emitted exactly once. Users whose
    horizon outruns the final watermark are withheld — the streaming
    analogue of append-mode window finalization, but driven by an explicit
    per-key timer instead of a window operator."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import StructField, StructType, TimestampType

    from conceptnetwork_spark.protoshim import ship_to_workers

    ship_to_workers(spark)

    class CohortProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._first = handle.getValueState(
                "first", StructType([StructField("first_ts", TimestampType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            # a key's rows within one micro-batch can span MULTIPLE Arrow
            # chunks (~10k rows each): accumulate the min across ALL chunks
            # before touching state, else the timer is registered off the
            # first chunk's min rather than the batch's true MIN(ts)
            batch_min = None
            for pdf in rows:
                m = pdf["ts"].min()
                if batch_min is None or m < batch_min:
                    batch_min = m
            if batch_min is not None and not self._first.exists():
                self._first.update((batch_min,))
                self._handle.registerTimer(
                    int(batch_min.value // 1_000_000) + MATURE_HORIZON_MS
                )
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            (first_ts,) = self._first.get()
            yield pd.DataFrame(
                {"user_id": [key[0]], "first_seen": [first_ts]}
            )
            # a fired key is DONE: drop its state row so the store tracks
            # open cohorts, not all keys ever seen — at 100 TB the store
            # would otherwise grow without bound (the removal is also what
            # the 10x state-scale gate asserts via numRowsRemoved)
            self._first.clear()

        def close(self) -> None:
            pass

    stage = _stage_time_chunks(spark, sf_dir, TWS_TIMER_FILES)
    tws = (
        file_stream(spark, stage)
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            CohortProcessor(),
            outputStructType="user_id long, first_seen timestamp",
            outputMode="Append",
            timeMode="EventTime",
        )
    )
    q = run_bounded(
        tws, "tws_timer", mode="append", state_partitions=8, rocksdb=True, timeout=180
    )
    return spark.table(q.name)


if TWSP_AVAILABLE:

    @register(
        "d25_cohort_timer_tws",
        # Closed-form oracle for EVENT-TIME TIMER firing, empirically pinned
        # (round 5): under an availableNow trigger Spark runs a FINAL NO-DATA
        # micro-batch in which timers are evaluated against the final
        # watermark W = max(all ts) - delay (delay 0 here). A timer fires
        # iff its expiry (ms) <= W (ms) — measured with a discriminating
        # horizon where the no-final-batch hypothesis predicts 0 firings
        # and the final-batch hypothesis predicts all 150; observed: all
        # 150. Millisecond floors on both sides mirror registerTimer's ms
        # resolution.
        oracle=f"""
        WITH firstu AS (
          SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
        ), wm AS (SELECT MAX(ts) AS mx FROM events)
        SELECT user_id,
               strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS first_seen_s
        FROM firstu, wm
        WHERE epoch_us(first_ts) // 1000 + {MATURE_HORIZON_MS}
              <= epoch_us(mx) // 1000
        ORDER BY user_id
        """,
    )
    def d25_cohort_timer_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """EVENT-TIME TIMERS end to end, oracle-checked: each user's first
        batch registers one timer at first_seen + 29.5 days; the timer
        fires once the watermark passes it (for this horizon, in the final
        no-data batch) and emits the maturation row exactly once. Users
        whose horizon outruns the final watermark are withheld — the
        per-key-timer analogue of append-mode window finalization. The
        29.5-day horizon vs the ~30-day event span puts the threshold
        inside the first-seen distribution, so the fired/withheld split is
        non-trivial at every sf. Completes the transformWithState surface:
        ValueState (d25_first_seen_tws), ListState (d25_topk_tws),
        MapState (d25_type_counts_tws), timers (this query)."""
        from pyspark.sql import functions as F

        out = run_cohort_maturation(spark, sf_dir)
        return out.select(
            "user_id",
            F.date_format("first_seen", "yyyy-MM-dd HH:mm:ss").alias(
                "first_seen_s"
            ),
        ).orderBy("user_id")


# --------------------------------------------------------------------------
# D25 extension — State Store data source (Spark 4): batch-read the
# checkpointed state of a streaming aggregation OFFLINE. This is the state
# introspection/debugging surface a production streaming platform needs
# ("what does operator 0's store hold right now?") exposed as a first-class
# query: run a keyed streaming count across 4 micro-batches, then read the
# final state back with spark.read.format("statestore") and certify it
# against the batch groupBy.
# --------------------------------------------------------------------------
@register(
    "d25_state_reader",
    # the final state of a streaming count(=) over fully-replayed input IS
    # the batch group-count; operator name/partitioning come from the
    # checkpoint's state-metadata, pinned here as constants
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           'stateStoreSave' AS operator_name,
           8 AS num_partitions
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def d25_state_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state-store inspection via the Spark 4 state data source:
    a per-user streaming count runs to completion over 4 file-replay
    micro-batches (state carries across batches), then the checkpoint's
    state is read BACK as a batch DataFrame — ``format("statestore")`` for
    the keyed rows, ``format("state-metadata")`` for the operator/layout
    descriptors — and joined into one certified result. The state rows of a
    completed count-distinct-keys aggregation must equal the batch groupBy
    bit-for-bit; the metadata pins the operator (stateStoreSave) and the
    state partition count the checkpoint froze at query start.

    Scale shape: the state source reads each state partition in parallel
    (one task per store partition, no shuffle); the metadata read is a
    driver-side file listing. At 100 TB of state this is exactly how
    surgical state audits/repairs run — no replay of the input stream."""
    from pyspark.sql import functions as F

    stream = file_stream(spark, stage_event_files(spark, sf_dir, 4))
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = scratch_dir(spark, "state_reader")
    run_bounded(
        agg,
        "state_reader",
        mode="update",
        state_partitions=8,
        checkpoint=ckpt,
        timeout=180,
    )
    state = spark.read.format("statestore").load(ckpt)
    meta = (
        spark.read.format("state-metadata")
        .load(ckpt)
        .where(F.col("operatorId") == 0)
        .select(
            F.col("operatorName").alias("operator_name"),
            F.col("numPartitions").alias("num_partitions"),
        )
    )
    return (
        state.select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").cast("long").alias("n_events"),
        )
        .crossJoin(F.broadcast(meta))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# D25 extension — State Store CHANGE FEED: per-micro-batch state deltas of
# a streaming aggregation, read offline. The companion to d25_state_reader
# (which reads only the final snapshot): readChangeFeed replays WHAT each
# batch wrote — the audit trail a production platform reads to debug "when
# did this key's state go wrong".
# --------------------------------------------------------------------------
@register(
    "d25_state_changefeed",
    # The staging is SQL-reproducible (time-contiguous chunks:
    # chunk = rn*3 div total over ORDER BY ts, event_id — the same closed
    # form _stage_time_chunks writes), so the oracle derives exactly which
    # keys each micro-batch touches and the cumulative count it commits:
    # one 'update' row per (key, batch with >=1 event for that key).
    oracle="""
    WITH ranked AS (
      SELECT user_id,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS total
      FROM events
    ), chunked AS (
      SELECT user_id, CAST((rn * 3) // total AS BIGINT) AS batch_id
      FROM ranked
    ), per_batch AS (
      SELECT user_id, batch_id, COUNT(*) AS delta
      FROM chunked GROUP BY user_id, batch_id
    )
    SELECT batch_id,
           'update' AS change_type,
           user_id,
           CAST(SUM(delta) OVER (PARTITION BY user_id ORDER BY batch_id)
                AS BIGINT) AS n_events
    FROM per_batch
    ORDER BY batch_id, user_id
    """,
)
def d25_state_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline state CHANGE-FEED audit via the Spark 4 state data source:
    a per-user streaming count runs over 3 time-contiguous micro-batches,
    then ``readChangeFeed`` replays every state commit — (batch_id,
    change_type, key, value) — as a batch DataFrame. The HDFS-backed store
    writes one 'update' per key per batch that touched it, carrying the
    post-batch cumulative count; because the batch boundaries are a closed
    form over (ts, event_id) order, the oracle reconstructs the entire
    commit history in SQL. A state store that wrote stale values, skipped
    a key's commit, or attributed a write to the wrong batch breaks the
    hash.

    Scale shape: the change-feed read scans each state partition's delta
    files in parallel (one task per partition per batch, no input replay);
    state partitions are sized to key cardinality (8) like every stateful
    query here."""
    from pyspark.sql import functions as F

    stream = file_stream(spark, _stage_time_chunks(spark, sf_dir, 3))
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    ckpt = scratch_dir(spark, "state_cf")
    run_bounded(
        agg,
        "state_cf",
        mode="update",
        state_partitions=8,
        checkpoint=ckpt,
        timeout=180,
    )
    cf = (
        spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
    )
    return cf.select(
        "batch_id",
        "change_type",
        F.col("key.user_id").alias("user_id"),
        F.col("value.count").cast("long").alias("n_events"),
    ).orderBy("batch_id", "user_id")
