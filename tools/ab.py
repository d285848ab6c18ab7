#!/usr/bin/env python
"""Interleaved A/B of two query builders, split by layer.

Usage: python tools/ab.py A B

Each side is a registry query name or ``module:fn``, where ``fn(spark,
sf_dir)`` returns a DataFrame and ``module`` is importable from the repo
root or tools/. Both sides run at $SPARK_GRAFT_SF_DIR (default
perfbench/data/sf0.1, the benchmark's copy of the sf0.1 tables).

The sides must return identical rows (compared sorted); otherwise the tool
exits nonzero before timing anything. It then runs them in ABBA blocks,
REPS runs per side, each fully materialized (every column, so Catalyst
cannot prune any), and prints min and median seconds per layer:

- build: the builder call, minus the Catalyst analysis run inside it;
- plan: Catalyst analysis, optimization and planning, from the final
  query's planning tracker;
- execute: the materialization, minus the planning run inside it.

A last line per side gives the generated classes compiled during
its timed runs, and the milliseconds spent compiling them. Warm runs of an
unchanged query compile nothing; a builder that defeats the codegen cache
(say, a literal that differs on every run) compiles on every run.

``python tools/ab.py q q`` gives the A/A noise floor of q.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench.spans import plan_phases  # noqa: E402
from stages import codegen_compiles  # noqa: E402

REPS = 8  # runs per side
LAYERS = ("build", "plan", "execute", "total")


def resolve(side: str, qs: dict):
    if ":" in side:
        module, fn = side.split(":", 1)
        return getattr(importlib.import_module(module), fn)
    return qs[side]


def timed_run(spark, fn, sf_dir: str) -> dict[str, float]:
    c0 = codegen_compiles(spark)
    t0 = time.time()
    df = fn(spark, sf_dir)
    t1 = time.time()
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    t2 = time.time()
    c1 = codegen_compiles(spark)
    out = {"build": t1 - t0, "plan": 0.0, "execute": t2 - t1, "total": t2 - t0,
           "compiles": c1[0] - c0[0], "compile_ms": c1[1] - c0[1]}
    for start, end in plan_phases(qe).values():
        out["plan"] += end - start
        out["build" if start < t1 else "execute"] -= end - start
    return out


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    from conceptnetwork_spark import get_spark, registry

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", os.path.join(ROOT, "perfbench", "data", "sf0.1")
    )
    spark = get_spark(app_name="ab")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    sides = {"A": sys.argv[1], "B": sys.argv[2]}
    fns = {k: resolve(v, qs) for k, v in sides.items()}

    # the check doubles as each side's untimed warm-up run
    rows = {k: sorted(repr(tuple(r)) for r in fn(spark, sf_dir).collect())
            for k, fn in fns.items()}
    if rows["A"] != rows["B"]:
        diff = sorted(set(rows["A"]) ^ set(rows["B"]))[:3]
        sys.exit(f"rows differ: A {len(rows['A'])} rows, B "
                 f"{len(rows['B'])} rows; e.g. {diff}")
    print(f"rows identical ({len(rows['A'])} rows) at {sf_dir}")

    runs: dict[str, list[dict]] = {"A": [], "B": []}
    for _ in range(REPS // 2):
        for k in "ABBA":
            runs[k].append(timed_run(spark, fns[k], sf_dir))
    print(f"seconds, min/median of {REPS} runs per side, ABBA order")
    for k, side in sides.items():
        cells = []
        for layer in LAYERS:
            xs = [r[layer] for r in runs[k]]
            cells.append(f"{layer} {min(xs):.3f}/{statistics.median(xs):.3f}")
        print(f"{k} {side}: " + "  ".join(cells))
    for k, side in sides.items():
        n = sum(r["compiles"] for r in runs[k])
        ms = sum(r["compile_ms"] for r in runs[k])
        print(f"{k} {side}: codegen {n} compiles, {ms:.0f} ms over {REPS} timed runs")
    spark.stop()


if __name__ == "__main__":
    main()
