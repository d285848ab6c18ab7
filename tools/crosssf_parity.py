#!/usr/bin/env python
"""Standing cross-SF parity gate (VERDICT r4 item 9): run the strict oracle
comparison (type-strict per-cell, the driver-hash-equivalent gate from
tests/oracle_utils) at a scale factor the pytest suite does NOT use, so
sf-dependent luck (thresholds, fixture staging, closed-form streaming
watermark oracles that happen to hold at one sf) can't recur.

Usage (from the repo root):
    python tools/crosssf_parity.py [sf_dir[,sf_dir...]] [query ...]

The default sf dir is /root/testdata/sf0.001. With no query names it checks
every oracle-backed query (once per round; record the line in BASELINE.md);
named queries re-verify a single optimization in seconds. Prints one
``N/M oracle queries match`` line per sf dir and exits nonzero on any
failure.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = sys.argv[1:]
    sf_dirs = (args[0] if args else "/root/testdata/sf0.001").split(",")
    names = args[1:]

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.session import get_spark
    from tests.oracle_utils import assert_oracle_match, oracle_db

    spark = get_spark(app_name="crosssf-parity")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    failed = False
    for sf_dir in sf_dirs:
        # staged-fixture queries (csv/json/text/binary sources, schema
        # evolution) embed absolute staged paths in their lazy oracle SQL,
        # resolved from this env var when the oracles are fetched: set it
        # BEFORE fetching them for each sf, so both sides stage from THE
        # SAME sf dir
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
        oracles = registry.oracles()
        ddb = oracle_db(sf_dir)
        todo = names or sorted(oracles)
        t0 = time.perf_counter()
        failures: list[str] = []
        for name in todo:
            try:
                assert_oracle_match(qs[name](spark, sf_dir), ddb, oracles[name], name)
            except Exception as ex:  # record every failure, keep sweeping
                failures.append(name)
                print(f"FAIL {name} @ {sf_dir}: {str(ex)[:300]}", file=sys.stderr)
        ddb.close()
        elapsed = round(time.perf_counter() - t0, 1)
        print(
            f"cross-sf parity @ {sf_dir}: "
            f"{len(todo) - len(failures)}/{len(todo)} oracle queries match, "
            f"{len(failures)} failures, {elapsed} s"
        )
        failed = failed or bool(failures)
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
