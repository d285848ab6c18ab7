#!/usr/bin/env python
"""The one pass over the registry: run every registered query once at the
given scale factor, fully materialized through the noop sink, and record
its one-shot wall seconds plus the bytes it actually SHUFFLED and spilled —
the 100x-scale signal .explain() can't give you. A query whose plan looks
right but moves the whole fact table through an exchange shows up here,
not in the plan audit.

Bytes per query come from tools/stages.py (Spark's in-process status
store, stages added since the previous query). Seconds cover the builder
plus the noop write; the stage read happens outside that window.

Codegen compiles per query are the Janino compiles (codegen cache misses)
counted while it ran, from tools/stages.py::codegen_compiles; with a cache
large enough for the pass, their total is the number of distinct generated
classes the registry needs.

With --round N writes BENCHSWEEP_r{N}.json (per-query seconds and codegen
compiles) and SHUFFLE_r{N}.json (per-query bytes); always prints one summary
JSON line.
Exits nonzero if any query fails, loses a stage from the status store, or
shuffles more than SHUFFLE_CAP_BYTES (a generous blow-up guard: the whole
sf0.1 lineitem table is ~70 MB on disk, so >2 GB shuffled by one query
means quadratic fanout or a lost broadcast, not honest work).

Usage: python tools/shuffle_audit.py [sf_dir] [--round N]
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


def _write(name: str, record: dict) -> None:
    path = os.path.join(ROOT, name)
    with open(path, "w") as f:
        json.dump(record, f)
        f.write("\n")
    print(f"wrote {path}")


def main() -> None:
    rnd = None
    argv = sys.argv[1:]
    if "--round" in argv:
        i = argv.index("--round")
        rnd = int(argv[i + 1])
        # drop the flag AND its value so the value is never mistaken for
        # the sf_dir positional (`--round 12` alone used to audit the
        # nonexistent directory "12" and fail all 404 queries)
        argv = argv[:i] + argv[i + 2:]
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    from stages import LostStageError, StageReader, codegen_compiles

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.session import get_spark

    spark = get_spark(app_name="shuffle-audit")
    spark.sparkContext.setLogLevel("ERROR")
    retained = int(spark.conf.get("spark.ui.retainedStages"))
    qs = registry.queries()
    # session warm-up outside the timings: without it, JVM/codegen/first-
    # read cost lands on whichever queries lead the registry — i.e. the
    # current certification window — and cross-round diffs misattribute it
    # as a regression of the rotated-in queries
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).count()

    reader = StageReader(spark)
    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}
    per: dict[str, dict] = {}
    failures: list[str] = []
    lost: list[str] = []
    for name, fn in qs.items():
        c0 = codegen_compiles(spark)[0]
        t0 = time.perf_counter()
        try:
            # noop sink, not count(): count() lets Catalyst prune unused
            # output columns — a Window whose outputs feed only pruned
            # aggregates is REMOVED and its exchange shrinks to the
            # map-side-combined count plan (measured: d27_interval_merge
            # at a 10M-row events blow-up "shuffled" 0.8 MB under count()
            # vs the real ~180 MB). The noop writer consumes the full
            # output schema, so the measured plan is the one a consumer
            # of the query's rows would actually pay for.
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
            compiles[name] = codegen_compiles(spark)[0] - c0
        except Exception as ex:  # record, don't abort the pass
            timings[name] = -1.0
            failures.append(name)
            print(f"# FAIL {name}: {str(ex)[:150]}", file=sys.stderr)
            reader.skip()
            continue
        try:
            m = reader.read()
        except LostStageError as ex:
            lost.append(name)
            print(f"# LOST STAGE {name}: {ex}", file=sys.stderr)
            continue
        per[name] = {k: v for k, v in m.items() if k != "n_stages"}

    total = round(sum(t for t in timings.values() if t > 0), 3)
    compiles_total = sum(compiles.values())
    over = {
        n: m["shuffle_write"]
        for n, m in per.items()
        if m["shuffle_write"] > SHUFFLE_CAP_BYTES
    }
    top = sorted(per.items(), key=lambda kv: -kv[1]["shuffle_write"])[:15]
    shuffle = {
        "sf_dir": sf_dir,
        "n_queries": len(per),
        "failures": failures,
        "stage_eviction_detected": bool(lost),
        "retained_stages": retained,
        "total_shuffle_write_bytes": sum(m["shuffle_write"] for m in per.values()),
        "total_disk_spill_bytes": sum(m["disk_spill"] for m in per.values()),
        "over_cap": over,
        "top_shufflers": {n: m for n, m in top},
        "per_query": per,
    }
    if rnd is not None:
        _write(f"BENCHSWEEP_r{rnd:02d}.json", {
            "metric": "full_sweep_one_shot_wall_clock_detail", "value": total,
            "unit": "sec", "queries": timings, "n_queries": len(timings),
            "failures": failures, "codegen_compiles": compiles,
            "codegen_compiles_total": compiles_total,
        })
        _write(f"SHUFFLE_r{rnd:02d}.json", shuffle)
    summary = {k: v for k, v in shuffle.items() if k != "per_query"}
    summary["top_shufflers"] = {n: m["shuffle_write"] for n, m in top[:10]}
    summary["lost_stage_queries"] = lost
    summary["sweep_total_sec"] = total
    summary["codegen_compiles_total"] = compiles_total
    print(json.dumps(summary))
    spark.stop()
    sys.exit(1 if (over or failures or lost) else 0)


if __name__ == "__main__":
    main()
