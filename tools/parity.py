#!/usr/bin/env python
"""The oracle parity gate: run registered queries against their DuckDB
oracles (type-strict per cell, the driver-hash-equivalent comparison of
tests/oracle_utils) and flag every oracle result cell that is IEEE -0.0.

Usage (from the repo root):
    python tools/parity.py [sf_dir[,sf_dir...]] [query ...]
    python tools/parity.py --window [sf_dir] [window_size]

The sweep (default sf dir /root/testdata/sf0.001) checks every oracle-backed
query, or only the named ones, at each sf dir, so sf-dependent luck
(thresholds, fixture staging, closed-form streaming oracles that happen to
hold at one sf) cannot pass unseen. It prints one
``N/M oracle queries match`` line per sf dir and a closing
``negzero sweep: K flagged`` line.

``--window`` dress-rehearses the driver's correctness window: the first 50
registry entries in driver order, in one process, at sf0.01 by default, so
cross-query interference (conf leakage, staging collisions) that per-test
pytest runs can mask shows up. It prints ``N/M green``.

A -0.0 cell is flagged because the driver's stringified hash sees "-0.0"
!= "0.0" and Spark's BigDecimal round cannot produce -0.0, while DuckDB's
ROUND keeps the sign of a tiny negative double (the d14_rolling_corr edge).
A flagged query must add ``+ 0.0`` after the ROUND in both the oracle SQL
and the Spark projection. Exits nonzero on any failure or flag.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _neg_zero_cells(df) -> dict[str, int]:
    """Per-column count of IEEE -0.0 cells in a pandas frame."""
    hits: dict[str, int] = {}
    for col in df.columns:
        vals = df[col].to_numpy()
        if vals.dtype.kind == "f":
            n = int(((vals == 0.0) & np.signbit(vals)).sum())
            if n:
                hits[col] = n
    return hits


def check(spark, sf_dir: str, names, flagged: dict) -> list[str]:
    """Compare each of ``names`` with its oracle at ``sf_dir``; return the
    failures and add -0.0 oracle cells to ``flagged``."""
    from conceptnetwork_spark import registry
    from tests.oracle_utils import assert_frames_match, oracle_db

    # staged-fixture queries (csv/json/text/binary sources, schema
    # evolution) embed absolute staged paths in their lazy oracle SQL,
    # resolved from this env var when the oracles are fetched: set it
    # BEFORE fetching them for each sf, so both sides stage from THE
    # SAME sf dir
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    qs, oracles = registry.queries(), registry.oracles()
    ddb = oracle_db(sf_dir)
    failures: list[str] = []
    for name in names or sorted(oracles):
        try:
            sdf = qs[name](spark, sf_dir).toPandas()
            odf = ddb.execute(oracles[name]).fetchdf()
            hits = _neg_zero_cells(odf)
            if hits:
                flagged.setdefault(name, []).append(f"{os.path.basename(sf_dir)}:{hits}")
                print(f"NEGZERO {name} @ {os.path.basename(sf_dir)}: {hits}")
            assert_frames_match(sdf, odf, name)
        except Exception as ex:  # record every failure, keep sweeping
            failures.append(name)
            print(f"FAIL {name} @ {sf_dir}: {str(ex)[:300]}", file=sys.stderr)
    ddb.close()
    return failures


def main() -> None:
    args = sys.argv[1:]
    window = args[:1] == ["--window"]
    if window:
        args = args[1:]

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.session import get_spark

    spark = get_spark(app_name="parity")
    spark.sparkContext.setLogLevel("ERROR")
    flagged: dict[str, list[str]] = {}
    if window:
        sf_dir = args[0] if args else "/root/testdata/sf0.01"
        size = int(args[1]) if len(args) > 1 else 50
        names = list(registry.queries())[:size]
        assert names == list(registry.CERT_FIRST)[:size], (
            "registry head does not match CERT_FIRST — ordering broken"
        )
        t0 = time.perf_counter()
        fails = check(spark, sf_dir, names, flagged)
        print(
            f"window rehearsal @ {sf_dir}: {len(names) - len(fails)}/{len(names)} "
            f"green in {time.perf_counter() - t0:.1f} s; fails={fails}"
        )
    else:
        sf_dirs = (args[0] if args else "/root/testdata/sf0.001").split(",")
        fails = []
        for sf_dir in sf_dirs:
            t0 = time.perf_counter()
            failures = check(spark, sf_dir, args[1:], flagged)
            n = len(args[1:]) or len(registry.oracles())
            print(
                f"cross-sf parity @ {sf_dir}: "
                f"{n - len(failures)}/{n} oracle queries match, "
                f"{len(failures)} failures, {time.perf_counter() - t0:.1f} s"
            )
            fails += failures
        print(f"negzero sweep: {len(flagged)} flagged queries across {len(sf_dirs)} SFs")
    spark.stop()
    sys.exit(1 if fails or flagged else 0)


if __name__ == "__main__":
    main()
