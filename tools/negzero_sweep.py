#!/usr/bin/env python
"""Negative-zero sweep (VERDICT r11 ask #1c): run every registered DuckDB
oracle at the three testdata scale factors and flag any result cell that is
IEEE -0.0 — the representation edge that shipped round 11's only driver red
(d14_rolling_corr: DuckDB ROUND keeps the sign of a tiny negative double,
Spark's BigDecimal round cannot, and the driver's stringified hash sees
"-0.0" != "0.0").

Any flagged query must normalize with `+ 0.0` after the ROUND in BOTH the
oracle SQL and the Spark projection. DuckDB-side-only by design: Spark's
F.round can never emit -0.0 (java.math.BigDecimal has no signed zero), so a
DuckDB -0.0 is always a hash mismatch; Spark-side -0.0 from non-round paths
is caught by the sign-strict pytest comparator (tests/oracle_utils.py) and
the three-SF crosssf_parity gate.

Usage (from the repo root; DuckDB-only, ~1 min):
    python tools/negzero_sweep.py [sf_dir ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

DEFAULT_SFS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def _neg_zero_cells(df) -> dict[str, int]:
    """Per-column count of IEEE -0.0 cells in a pandas frame."""
    import numpy as np

    hits: dict[str, int] = {}
    for col in df.columns:
        s = df[col]
        if s.dtype.kind != "f":
            continue
        vals = s.to_numpy()
        mask = (vals == 0.0) & np.signbit(vals)
        n = int(mask.sum())
        if n:
            hits[col] = n
    return hits


def main() -> None:
    sf_dirs = sys.argv[1:] or list(DEFAULT_SFS)

    import duckdb

    from conceptnetwork_spark import registry
    from tests.oracle_utils import oracle_db

    flagged: dict[str, list[str]] = {}
    errors: list[tuple[str, str, str]] = []
    for sf_dir in sf_dirs:
        # staged-fixture oracles embed paths resolved at oracles() call
        # time from this env var — resolve per SF
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
        oracles = registry.oracles()
        ddb = oracle_db(sf_dir)
        for name in sorted(oracles):
            try:
                df = ddb.execute(oracles[name]).fetchdf()
            except Exception as ex:  # staged fixture absent etc. — report
                errors.append((name, sf_dir, str(ex)[:120]))
                continue
            hits = _neg_zero_cells(df)
            if hits:
                flagged.setdefault(name, []).append(
                    f"{os.path.basename(sf_dir)}:{hits}"
                )
                print(f"NEGZERO {name} @ {os.path.basename(sf_dir)}: {hits}")
        ddb.close()

    # sanity: the detector itself must see a planted -0.0
    probe = duckdb.connect().execute(
        "SELECT ROUND(-1e-9, 4) AS v"
    ).fetchdf()
    assert math.copysign(1.0, probe["v"][0]) < 0, (
        "detector self-check failed: DuckDB ROUND(-1e-9,4) no longer -0.0"
    )

    if errors:
        print(f"{len(errors)} oracle executions errored (staging-dependent "
              f"fixtures are expected to need their Spark query first):")
        for name, sf, msg in errors[:20]:
            print(f"  ERR {name} @ {os.path.basename(sf)}: {msg}")
    print(
        f"negzero sweep: {len(flagged)} flagged queries across "
        f"{len(sf_dirs)} SFs"
    )
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
