"""10x scale-stress gate for the heaviest shufflers (VERDICT r8 ask #8).

Runs tools/scale_stress.py in its own process (a fresh session, so one
run's stages and heap never mix with the suite's): builds a 10x
join-consistent blow-up of sf0.1 and asserts every top-10 shuffler finishes
with ZERO disk spill and <2 GB shuffled — the super-linear-growth check
sf0.1 alone cannot provide."""

import json
import os
import subprocess
import sys
from contextlib import contextmanager

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@contextmanager
def _progress_into(spark, sink: list):
    """Collect every streaming progress report, as a dict, into ``sink``
    while the block runs, through a listener registered only for it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    try:
        yield
        # progress events reach the listener through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)


@pytest.mark.slow
def test_top_shufflers_survive_10x():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scale_stress.py")],
        capture_output=True,
        text=True,
        timeout=1800,
        cwd=ROOT,
    )
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    rec = json.loads(line)
    assert proc.returncode == 0, (rec, proc.stderr[-2000:])
    assert not rec["failures"] and not rec["over_cap"] and not rec["disk_spilled"]
    assert len(rec["per_query"]) == 10


@pytest.mark.slow
def test_tws_state_scales_with_keys_not_events(spark):
    """r9 VERDICT ask #6: the 10x gate covered only batch shufflers, but
    the slowest wall-clock queries are the TWS typed-state ops. Replay a
    10x-events blow-up (10x rows AND 10x distinct users — user_id is a
    blowup key) through the transformWithStateInPandas harness and assert
    the 100-TB state posture directly from stateOperators metrics:

    - state rows track DISTINCT KEYS, not event volume: final
      numRowsTotal == count(distinct user_id), far below the event
      count (67 events/key in this fixture);
    - state is RECLAIMED under watermark advance: the cohort-timer run's
      summed numRowsRemoved > 0 (fired keys drop their rows), and its
      final store holds exactly the unmatured remainder."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scale_stress import build_scaled_dir

    from conceptnetwork_spark.streaming.stateful import (
        TWSP_AVAILABLE,
        run_cohort_maturation,
        run_first_seen_stats,
    )

    if not TWSP_AVAILABLE:
        pytest.skip("no protobuf runtime for transformWithStateInPandas")

    scaled = build_scaled_dir(spark, "/root/testdata/sf0.1")
    ev = spark.read.parquet(os.path.join(scaled, "events.parquet"))
    n_events = ev.count()
    n_keys = ev.select("user_id").distinct().count()
    # 10x blow-up really happened: sf0.1 is 100k events / 1.5k users
    assert n_events >= 1_000_000 and n_keys >= 15_000

    sink, sink2 = [], []
    with _progress_into(spark, sink):
        df = run_first_seen_stats(spark, scaled, n_files=4)
    assert df.count() == n_keys
    finals = [
        op
        for p in sink
        for op in p.get("stateOperators", [])
        if p.get("batchId") == max(x.get("batchId", -1) for x in sink)
    ]
    assert finals, f"no stateOperators in progress: {sink[-1:]} "
    assert finals[0]["numRowsTotal"] == n_keys, (
        f"state rows {finals[0]['numRowsTotal']} != distinct keys {n_keys} — "
        "state is scaling with something other than the key space"
    )
    assert finals[0]["numRowsTotal"] * 50 < n_events

    with _progress_into(spark, sink2):
        matured = run_cohort_maturation(spark, scaled).count()
    removed = sum(
        op.get("numRowsRemoved", 0)
        for p in sink2
        for op in p.get("stateOperators", [])
    )
    assert removed > 0, "no state reclaimed under watermark advance"
    assert removed == matured, (
        f"every fired timer must drop its state row: removed {removed} "
        f"!= matured {matured}"
    )
    last2 = [
        op
        for p in sink2
        for op in p.get("stateOperators", [])
        if p.get("batchId") == max(x.get("batchId", -1) for x in sink2)
    ]
    assert last2[0]["numRowsTotal"] == n_keys - matured

def test_hot_user_outside_every_shifted_domain():
    """ADVICE r10: the skew fixture's hot user id must sit outside every
    copy's shifted user_id domain AT ANY factor (the old fixed
    KEY_OFF*1024+7 collided with copy 1024's domain past factor 1024).
    Shifted ids live in [copy*KEY_OFF, copy*KEY_OFF + max_uid] with
    copy < factor and max_uid < KEY_OFF."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from scale_stress import KEY_OFF, hot_user

    for factor in (1, 10, 100, 1024, 2048, 10_000):
        hu = hot_user(factor)
        # strictly above the largest possible shifted id at this factor
        assert hu >= KEY_OFF * factor, (factor, hu)
        # and never congruent-with-domain: it is not inside any EXISTING
        # copy band (copies run 0..factor-1)
        for copy in {0, 1, factor - 1} & set(range(factor)):
            lo, hi = copy * KEY_OFF, copy * KEY_OFF + (KEY_OFF - 1)
            assert not (lo <= hu <= hi), (factor, copy, hu)


@pytest.mark.slow
def test_stream_session_state_survives_10x():
    """VERDICT r11 ask #7 (10x rung of the streaming-state ladder; the
    1000x rung runs manually into SCALETIERS): replay a 10x events
    blow-up (10x rows AND 10x users) through the session-window pipeline
    via tools/stream_scale.py and assert the streaming-state posture the
    batch tiers cannot show — every micro-batch commits, zero disk
    spill, zero watermark drops (time-ranged staging), and state is
    RECLAIMED as the watermark passes finalized sessions (final
    numRowsTotal below the peak, with per-batch numRowsRemoved doing
    the work)."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "stream_scale.py"),
            "--factor", "10", "--batches", "4",
        ],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=ROOT,
    )
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    rec = json.loads(line)
    assert proc.returncode == 0, (rec, proc.stderr[-2000:])
    assert rec["micro_batches"] == 4 and rec["input_rows"] == 1_000_000
    assert not rec["failures"] and rec["disk_spill"] == 0
    assert rec["rows_dropped_by_watermark"] == 0
    assert rec["state_reclaimed"]
    assert sum(b["state_rows_removed"] for b in rec["per_batch"]) > 0
