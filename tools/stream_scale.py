#!/usr/bin/env python
"""Streaming scale probe: session-window state at 10x-1000x (VERDICT r11 #7).

The batch tiers (tools/scale_stress.py) prove the heavy shufflers hold
their shuffle/spill posture at 100x-1000x, but until now the 1000x tier
was batch-only: no evidence that STREAMING STATE — the thing that
actually grows with data volume in a long-running pipeline — stays
bounded and is reclaimed under watermark advance at that scale. This
probe supplies it for the stateful streaming representative
(`d26_stream_session_window`'s pipeline: session_window + watermark,
append mode):

  1. Blows up ONLY the events table in-plan (explode 0..factor-1 copies,
     user_id shifted per copy by the scale_stress KEY_OFF so key
     cardinality scales WITH volume — 1.5M distinct users at 1000x, the
     honest shape; a fixed key set would understate state size), pruned
     to the three columns the query reads (ts, user_id, value).
  2. Stages it as `--batches` TIME-RANGED parquet files via
     repartitionByRange(ts) — the distributed form of the fixture-only
     driver-side chunker in streaming/ops.py:_stage_time_chunks
     (whose own docstring prescribes exactly this at scale) — with
     ascending mtimes so maxFilesPerTrigger=1 replays them as `batches`
     micro-batches in event-time order and the watermark advances
     monotonically.
  3. Runs the session-window aggregation to a NOOP streaming sink (the
     memory sink the sf0.1 query uses would collect ~100M finalized
     sessions onto the driver — the sink, not the operator, would be
     the bottleneck) and reads stateOperators metrics from the query
     progress plus the run's shuffle/spill bytes with tools/stages.py.

Gates (exit nonzero on violation):
  - the run COMPLETES (all micro-batches, no timeout);
  - ZERO disk spill (same 100-TB failure signal as the batch tiers);
  - ZERO rows dropped by watermark (range staging makes every batch
    strictly later than the last — a drop means the staging or the
    watermark arithmetic is broken);
  - state is RECLAIMED: final numRowsTotal < peak numRowsTotal
    (watermark eviction works — state tracks OPEN sessions, not
    history; with time-ranged batches the final watermark sits past
    all but the last batch's sessions).

Recorded, not gated: peak/final state rows, state memory, update /
removal / commit times per micro-batch, shuffle bytes, mem spill
(sort-writer buffering reports as mem spill at constrained heaps — see
scale_stress.py). A stage lost from the status store fails the run.

Run the 10x tier via `pytest -m slow tests/test_scale_stress.py`; the
1000x tier manually with SPARK_GRAFT_DRIVER_MEM=96g (~100M events).
State partitions follow the scale_stress ladder (32 at <=10x, then
32*factor/10 capped at 320) — streaming state is partitioned by
spark.sql.shuffle.partitions at query start, so the session conf IS the
state-partitioning knob.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_FACTOR = 1000
DEFAULT_BATCHES = 8


def stage_ranged_events(
    spark, src_sf: str, factor: int, batches: int
) -> str:
    """Blow up events `factor`-x and stage as `batches` time-ranged
    parquet files with ascending mtimes, staged once per (factor, batches,
    source sf dir). One Spark job: scan -> explode copies
    -> shift user_id -> range-shuffle on ts -> write; the blown-up table
    never lands anywhere else first."""
    from pyspark.sql import functions as F

    from conceptnetwork_spark.catalog import Catalog, fix_nanos
    from conceptnetwork_spark.sources.staging import order_by_mtime, staged
    from scale_stress import KEY_OFF

    def build(tmp: str) -> None:
        ev = fix_nanos(
            spark.read.parquet(Catalog(spark, src_sf).path("events")), "events"
        )
        blown = (
            ev.select("ts", "user_id", "value")
            .withColumn(
                "_copy", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            .withColumn(
                "user_id",
                F.col("user_id").cast("long")
                + F.col("_copy").cast("long") * F.lit(KEY_OFF).cast("long"),
            )
            .drop("_copy")
        )
        blown.repartitionByRange(batches, "ts").write.mode("overwrite").parquet(tmp)
        # range partition i holds the i-th lowest ts range and task i writes
        # part-0000i-*: name order == event-time order, which the mtimes
        # carry to the file stream source under maxFilesPerTrigger=1.
        order_by_mtime(sorted(glob.glob(os.path.join(tmp, "part-*"))))

    return staged(f"streamstage{factor}x_{batches}b", build, src_sf)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=DEFAULT_FACTOR)
    ap.add_argument("--batches", type=int, default=DEFAULT_BATCHES)
    args = ap.parse_args()
    factor, batches = args.factor, args.batches

    from stages import StageReader

    from conceptnetwork_spark.session import get_spark

    # state-partition ladder matches the batch tiers (scale_stress.py):
    # the session shuffle count is what streaming state partitions bind
    # to at query start, so it is set session-wide here
    shuffle_parts = None if factor <= 10 else min(32 * factor // 10, 320)
    if shuffle_parts and shuffle_parts > 200:
        # keep the shuffle-writer choice constant across tiers (see the
        # measured bypassMergeThreshold note in scale_stress.py); merge
        # into caller-provided submit args, never clobber
        existing = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        conf = f"--conf spark.shuffle.sort.bypassMergeThreshold={shuffle_parts}"
        if "pyspark-shell" in existing:
            merged = existing.replace("pyspark-shell", f"{conf} pyspark-shell")
        else:
            merged = f"{existing} {conf} pyspark-shell"
        os.environ["PYSPARK_SUBMIT_ARGS"] = merged
    spark = get_spark(app_name="stream-scale", shuffle_partitions=shuffle_parts)
    spark.sparkContext.setLogLevel("ERROR")

    stage = stage_ranged_events(spark, args.sf_dir, factor, batches)

    from pyspark.sql import functions as F

    from conceptnetwork_spark.streaming.ops import (
        SESSION_STREAM_DELAY,
        SESSION_STREAM_GAP,
        await_finished,
    )

    reader = StageReader(spark)

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    agg = (
        stream.withWatermark("ts", SESSION_STREAM_DELAY)
        .groupBy(F.session_window("ts", SESSION_STREAM_GAP).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    ckpt = os.path.join("/tmp", f"cn_stream_scale_ckpt_{uuid.uuid4().hex[:8]}")
    t0 = time.perf_counter()
    failures: list[str] = []
    try:
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        await_finished(q, 5400)
    except Exception as ex:
        failures.append(f"stream: {str(ex)[:300]}")
        q = None
    wall = round(time.perf_counter() - t0, 2)
    stage_bytes = reader.read()

    # -------- stateOperators metrics across all micro-batch progresses
    # (PySpark surfaces recentProgress entries as plain dicts)
    progresses = list(q.recentProgress) if q else []
    data_batches = [p for p in progresses if p.get("numInputRows", 0) > 0]
    per_batch = []
    for p in data_batches:
        so = (p.get("stateOperators") or [{}])[0]
        per_batch.append(
            {
                "input_rows": p.get("numInputRows", 0),
                "state_rows_total": so.get("numRowsTotal", 0),
                "state_rows_updated": so.get("numRowsUpdated", 0),
                "state_rows_removed": so.get("numRowsRemoved", 0),
                "state_mem_bytes": so.get("memoryUsedBytes", 0),
                "dropped_by_watermark": so.get("numRowsDroppedByWatermark", 0),
                "update_ms": so.get("allUpdatesTimeMs", 0),
                "removal_ms": so.get("allRemovalsTimeMs", 0),
                "commit_ms": so.get("commitTimeMs", 0),
            }
        )
    peak_state = max((b["state_rows_total"] for b in per_batch), default=0)
    final_state = per_batch[-1]["state_rows_total"] if per_batch else 0
    dropped = sum(b["dropped_by_watermark"] for b in per_batch)
    input_rows = sum(b["input_rows"] for b in per_batch)

    gate_complete = not failures and len(data_batches) >= batches
    if not gate_complete and not failures:
        failures.append(
            f"only {len(data_batches)}/{batches} data micro-batches ran"
        )
    # reclaim gate only meaningful with >=3 batches (with 2, the final
    # batch's open sessions can legitimately exceed batch 1's)
    gate_reclaim = batches < 3 or final_state < peak_state
    disk_spill = stage_bytes["disk_spill"]
    record = {
        "metric": f"stream_scale_{factor}x",
        "factor": factor,
        "batches": batches,
        "state_partitions": shuffle_parts or 32,
        "src_sf": args.sf_dir,
        "sec": wall,
        "input_rows": input_rows,
        "micro_batches": len(data_batches),
        "peak_state_rows": peak_state,
        "final_state_rows": final_state,
        "peak_state_mem_bytes": max(
            (b["state_mem_bytes"] for b in per_batch), default=0
        ),
        "rows_dropped_by_watermark": dropped,
        "state_reclaimed": gate_reclaim,
        "shuffle_write": stage_bytes["shuffle_write"],
        "mem_spill": stage_bytes["mem_spill"],
        "disk_spill": disk_spill,
        "failures": failures,
        "per_batch": per_batch,
    }
    print(json.dumps(record))
    spark.stop()
    ok = gate_complete and gate_reclaim and disk_spill == 0 and dropped == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
