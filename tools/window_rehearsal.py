#!/usr/bin/env python
"""Dress-rehearse the driver's CORRECTNESS window before a round closes:
run the FIRST 50 registry entries in driver order, in one fresh process,
against the driver-equivalent hash gate at sf0.01 — catching cross-query
interference (conf leakage, staging collisions) that per-test pytest runs
can mask. Run once after rotating registry.CERT_FIRST.

Usage: python tools/window_rehearsal.py [sf_dir] [window_size]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    window_size = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    from conceptnetwork_spark import registry
    from conceptnetwork_spark.session import get_spark
    from tests.oracle_utils import assert_oracle_match, oracle_db

    spark = get_spark(app_name="window-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    ddb = oracle_db(sf_dir)

    qs, ors = registry.queries(), registry.oracles()
    window = list(qs)[:window_size]
    assert window == list(registry.CERT_FIRST)[:window_size], (
        "registry head does not match CERT_FIRST — ordering broken"
    )
    t0 = time.perf_counter()
    fails: list[str] = []
    for name in window:
        try:
            assert_oracle_match(qs[name](spark, sf_dir), ddb, ors[name], name)
        except Exception as ex:
            fails.append(name)
            print(f"FAIL {name}: {str(ex)[:200]}", file=sys.stderr)
    print(
        f"window rehearsal @ {sf_dir}: {len(window) - len(fails)}/{len(window)} "
        f"green in {time.perf_counter() - t0:.1f} s; fails={fails}"
    )
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
