#!/usr/bin/env python
"""Scale-stress the heaviest shufflers beyond sf0.1 (VERDICT r8 ask #8).

Builds a FACTOR-x blow-up of the sf0.1 tables (default 10x: ~6M-row
lineitem, 1.5M orders, 1M events, 50k documents) with join-consistent key
offsets per copy — l_orderkey/o_orderkey shift together so every lineitem
still matches exactly one order; dim tables (region nation customer
supplier part, embeddings) stay as-is so FK references remain valid — then
runs the top-10 shufflers from SHUFFLE_r09.json against it and reads each
query's shuffle-write / spill bytes with tools/stages.py (same reader as
tools/shuffle_audit.py).

Gates (the 100-TB posture check the sf0.1 audit can't give):
  - ZERO disk spill on every query (partitions must still fit in memory
    at 10x), and
  - <2 GB shuffled per query (sub-linear or linear growth only; a
    super-linear jump means a lost broadcast or quadratic fanout that
    sf0.1 was too small to expose).

The blow-up is staged once per (factor, skew, source sf dir) through
conceptnetwork_spark/sources/staging.py.
Prints one JSON line; exits nonzero on any gate violation. Run via
`pytest -m slow tests/test_scale_stress.py` or directly.

`--factor N` (default 10) stages an N-x blow-up instead; the shuffle cap
scales LINEARLY with the factor (2 GB at 10x, 20 GB at 100x) so the gate
stays "linear growth or better" at every tier, and the zero-spill gate is
unchanged — partitions must still fit in executor memory at the stressed
scale (raise SPARK_GRAFT_DRIVER_MEM for tiers beyond what a 24 GB local
heap honestly models; a 100x run is ~sf10 = 60M-row lineitem on one node).
`--queries a,b,c` restricts the run (large tiers re-run the heaviest
shapes, not all ten).

`--skew P` stages a hot-key variant: ~P% of the blown-up events rows are
re-pointed at ONE user_id (event_id stays unique), the power-law shape a
uniform blow-up can't produce. Probe the user_id-exchange queries against
it: partial aggregation and distinct-first designs absorb the hot key
map-side; AQE splits skewed join partitions; per-key WINDOWS are the
honest worst case (a window over one key cannot be split — the hot task
is the straggler bound, and the gate is completion without failure).

The spill gate is DISK-SPILL-ONLY by design (matching the 100-TB failure
signal: a disk spill means an operator outgrew its memory budget).
memoryBytesSpilled is RECORDED per query (`mem_spill`, and the
`mem_spilled` summary) but not gated: at constrained local heaps the
sort-based shuffle writer's record buffering and operator pressure at
extreme tiers (1000x on 24 GB) report as memory spill while the same
plan is spill-free at cluster-sized memory — gating it would fail runs
whose 100-TB posture is sound. A stage lost from the status store fails
its query (its bytes would be undercounted).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SHUFFLE_CAP_BYTES = 2 * 1024**3
FACTOR = 10
KEY_OFF = 1 << 24  # > any sf0.1 key, divisible by 2^16 so a%m, b%m domains hold

# top-10 by shuffle_write in SHUFFLE_r10.json (sf0.1, full 376-query audit,
# noop-sink materialization — the count()-era list missed the pure-window
# shufflers because count() pruned their Window operators away entirely)
TOP10 = [
    "d33_als_recs",
    "d09_q21_waiting",
    "d23_grouped_map",
    "d09_percentiles",
    "d13_rank_dense",
    "d31_containment",
    "d23_mean_center",
    "d14_window_running",
    "d16_sql_scripting",
    "d26_stream_session_window",
]

BLOWUP_KEYS = {
    # table -> columns shifted by copy*KEY_OFF (join-consistent: lineitem
    # and orders shift the SAME orderkey so each copy is a closed join
    # subgraph; custkey/partkey/suppkey stay in the un-blown dim domain)
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
}
COPY_TABLES = ["region", "nation", "customer", "supplier", "part", "embeddings"]


def hot_user(factor: int) -> int:
    """A user_id outside every shifted domain AT THIS FACTOR: copies shift
    by copy*KEY_OFF with copy < factor and every original user_id < KEY_OFF,
    so KEY_OFF*factor is strictly above all of them (the old fixed
    KEY_OFF*1024+7 collided with copy 1024's domain past factor 1024)."""
    return KEY_OFF * factor + 7


def build_scaled_dir(
    spark, src_sf: str, factor: int = FACTOR, skew_pct: int = 0
) -> str:
    import shutil

    from pyspark.sql import functions as F

    from conceptnetwork_spark.sources.staging import staged

    def build(out: str) -> None:
        for t, keys in BLOWUP_KEYS.items():
            df = spark.read.parquet(os.path.join(src_sf, f"{t}.parquet"))
            df = df.withColumn(
                "_copy", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            for k in keys:
                # long arithmetic: copy*KEY_OFF overflows int32 past factor 127
                df = df.withColumn(
                    k,
                    F.col(k).cast("long")
                    + F.col("_copy").cast("long") * F.lit(KEY_OFF).cast("long"),
                )
            if skew_pct and t == "events":
                # Hot-key variant: ~skew_pct% of the blown-up event rows land
                # on ONE user (deterministic hash pick over the non-original
                # copies; event_id stays unique). At factor 100 / skew 20 the
                # hot user holds ~2M of 10M events vs a ~670-row median — the
                # power-law reality the skew probes exercise.
                df = df.withColumn(
                    "user_id",
                    F.when(
                        (F.col("_copy") > 0)
                        & (
                            F.pmod(F.xxhash64("event_id", "_copy"), F.lit(100))
                            < skew_pct
                        ),
                        F.lit(hot_user(factor)).cast("long"),
                    ).otherwise(F.col("user_id")),
                )
            df.drop("_copy").write.mode("overwrite").parquet(
                os.path.join(out, f"{t}.parquet")
            )
        for t in COPY_TABLES:
            src = os.path.join(src_sf, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if os.path.isdir(src):
                shutil.copytree(src, dst)
            else:
                shutil.copyfile(src, dst)

    name = f"scale{factor}x" + (f"_skew{skew_pct}" if skew_pct else "")
    return staged(name, build, src_sf)


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=FACTOR)
    ap.add_argument(
        "--queries", default=None, help="comma-separated subset of TOP10"
    )
    ap.add_argument("--skew", type=int, default=0, dest="skew_pct")
    args = ap.parse_args()
    factor, skew_pct, src_sf = args.factor, args.skew_pct, args.sf_dir
    names = args.queries.split(",") if args.queries else list(TOP10)
    cap_bytes = SHUFFLE_CAP_BYTES * factor // FACTOR

    from stages import StageReader

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.session import get_spark

    # Shuffle partition count must scale WITH the data (the knob a real
    # cluster turns: partitions sized so each fits executor memory at the
    # target SF). The 10x gate keeps the session default (32) — that IS
    # the posture being tested at that tier; beyond 10x the data outgrows
    # a fixed-32 layout by construction, so partitions grow linearly,
    # keeping per-partition bytes constant across tiers. AQE still
    # coalesces the small post-shuffle ends.
    # capped at 320: per-reducer bytes stay <=~100 MB through 1000x on this
    # corpus (q21's 22 GB / 320 = 70 MB), and the bypass writer's
    # one-open-file-per-reducer-per-task cost stays bounded; beyond 1000x
    # raise the cap with the data
    shuffle_parts = (
        None if factor <= FACTOR else min(32 * factor // FACTOR, 320)
    )
    if shuffle_parts and shuffle_parts > 200:
        # Above spark.shuffle.sort.bypassMergeThreshold (200) the
        # combine-less shuffles (joins, distinct exchanges) switch from
        # the bypass-merge writer to the sort-based writer, whose normal
        # record buffering is REPORTED as memory/disk spill — measured
        # here at 100x: q21 "spilled" 489 MB at 320 reducers yet 0 at 32,
        # with identical operators. Raising the threshold to the reducer
        # count keeps the writer choice constant across tiers so the
        # zero-spill gate keeps meaning OPERATOR memory pressure (agg
        # hash tables, join sorts), not shuffle-writer mechanics. This is
        # a core conf (JVM-launch only), hence the submit-args route.
        # MERGE into any caller-provided submit args instead of clobbering
        # them (ADVICE r10): prepend the --conf before the trailing
        # pyspark-shell token the launcher requires.
        existing = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
        conf = f"--conf spark.shuffle.sort.bypassMergeThreshold={shuffle_parts}"
        if "pyspark-shell" in existing:
            merged = existing.replace("pyspark-shell", f"{conf} pyspark-shell")
        else:
            merged = f"{existing} {conf} pyspark-shell"
        os.environ["PYSPARK_SUBMIT_ARGS"] = merged
    spark = get_spark(app_name="scale-stress", shuffle_partitions=shuffle_parts)
    spark.sparkContext.setLogLevel("ERROR")

    sf_dir = build_scaled_dir(spark, src_sf, factor, skew_pct)
    qs = registry.queries()
    per: dict[str, dict] = {}
    failures: list[str] = []
    reader = StageReader(spark)
    for name in names:
        t0 = time.perf_counter()
        try:
            # noop sink, not count() — count() lets Catalyst prune unused
            # outputs (windows feeding pruned columns vanish entirely);
            # the noop writer pays for the full output schema (see
            # tools/shuffle_audit.py for the measured case)
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 2)
            m = reader.read()
        except Exception as ex:  # a lost stage fails its query too
            failures.append(name)
            print(f"# FAIL {name}: {str(ex)[:200]}", file=sys.stderr)
            reader.skip()
            continue
        m.pop("n_stages")
        per[name] = {**m, "sec": sec}

    over = {
        n: m["shuffle_write"]
        for n, m in per.items()
        if m["shuffle_write"] > cap_bytes
    }
    spilled = {n: m["disk_spill"] for n, m in per.items() if m["disk_spill"]}
    mem_spilled = {n: m["mem_spill"] for n, m in per.items() if m["mem_spill"]}
    record = {
        "metric": f"scale_stress_{factor}x"
        + (f"_skew{skew_pct}" if skew_pct else ""),
        "factor": factor,
        "skew_pct": skew_pct,
        "cap_bytes": cap_bytes,
        "src_sf": src_sf,
        "failures": failures,
        "over_cap": over,
        "disk_spilled": spilled,
        "mem_spilled": mem_spilled,
        "spill_gate": "disk-only (mem_spill recorded, not gated; see docstring)",
        "per_query": per,
    }
    print(json.dumps(record))
    spark.stop()
    sys.exit(1 if (over or spilled or failures) else 0)


if __name__ == "__main__":
    main()
