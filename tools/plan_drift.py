#!/usr/bin/env python
"""Plan-drift radar: compare the working-tree PLANS.md against a committed
revision with session-varying noise normalized away (expression ids #N,
plan_id, file locations) — so a regeneration diff shows only REAL plan
changes. Run after `tools/explain_audit.py` each round; every changed plan
must be explainable by an intended operator change.

Usage: python tools/plan_drift.py [git_rev]      # default HEAD
"""

from __future__ import annotations

import re
import subprocess
import sys


def _normalize(body: str) -> str:
    body = re.sub(r"#\d+", "#N", body)
    body = re.sub(r"plan_id=\d+", "plan_id=N", body)
    # RDD lineage ids vary with session history (e.g. MapPartitionsRDD[234])
    body = re.sub(r"RDD\[\d+\]", "RDD[N]", body)
    # higher-order-function lambda variables carry a session-global counter
    # (lambda x_105 vs lambda x_106 depending on prior query history)
    body = re.sub(r"\b(lambda [a-z]+)_\d+", r"\1_N", body)
    # the bracketed path after the file-index class varies too (staged
    # fixture dirs are content-fingerprinted, so regenerated testdata —
    # or another machine — changes the tmp path, not the plan)
    body = re.sub(r"Location: \S+( \[[^\]]*\])?", "Location: X", body)
    # per-run uuid'd streaming checkpoints (d25_state_reader reads state
    # back from a checkpoint created fresh each invocation)
    body = re.sub(r"stateCkptLocation=\S+?\]", "stateCkptLocation=X]", body)
    # the lineage-cut RDD's callsite string varies with JVM reflection
    # frame resolution ("localCheckpoint at NativeMethodAccessorImpl.java:0"
    # vs "localCheckpoint at <unknown>:0") — same plan, different JIT state
    body = re.sub(r"at localCheckpoint at \S+", "at localCheckpoint at X", body)
    body = re.sub(r"at checkpoint at \S+", "at checkpoint at X", body)
    # _per_series_grouped_map buckets series by pmod(xxhash64(user_id),
    # 8 x defaultParallelism): the literal follows the host's core count
    body = re.sub(r"(pmod\(xxhash64\([^()]*\), )\d+\)", r"\1N)", body)
    return body


def _plans(text: str) -> dict[str, str]:
    return {
        m.group(1): _normalize(m.group(2))
        for m in re.finditer(r"^## (\S+)\n\n```\n(.*?)\n```", text, re.S | re.M)
    }


def main() -> None:
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    old = _plans(
        subprocess.run(
            ["git", "show", f"{rev}:PLANS.md"], capture_output=True, text=True
        ).stdout
    )
    new = _plans(open("PLANS.md").read())
    changed = sorted(k for k in old if k in new and old[k] != new[k])
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    print(
        f"plan drift vs {rev}: {len(changed)} changed, "
        f"{len(added)} added, {len(removed)} removed"
    )
    for k in changed:
        print(f"  CHANGED {k}")
    for k in added:
        print(f"  ADDED   {k}")
    for k in removed:
        print(f"  REMOVED {k}")
    sys.exit(1 if (changed or removed) else 0)


if __name__ == "__main__":
    main()
