#!/usr/bin/env python
"""One-command round close (VERDICT r5 item 6): run the standing per-round
gates — driver-window rehearsal, cross-SF parity sweeps, plan-drift radar,
and the full pytest suite — each in a FRESH subprocess (their individual
contracts), and write a single machine-readable ROUNDCLOSE_r{N}.json the
judge can read instead of scraping BASELINE.md prose.

Usage (from the repo root, once per round, ~20-30 min):
    python tools/roundclose.py <round_number> [--skip-suite] [--skip-parity]

PRE-COMMIT RULE (the r8 lesson — a post-rehearsal edit shipped the only
red query of the round): after ANY edit to a registered query once the
window has been rehearsed, re-run that query's oracle test
(tests/test_oracle_queries.py -k <name>) AND its plan pin BEFORE the
commit. The report records the git SHA at close so the judge can verify
the rehearsal ran against the code that actually shipped: the only
commit allowed after a close is the artifacts-only snapshot (the files
this tool writes); any CODE edit after it means roundclose must re-run.

Artifact shape:
    {"round": 6, "window": {"green": 50, "total": 50, "ok": true},
     "parity": {"sf0.001": {...}, "sf0.01": {...}, "sf0.1": {...}},
     "plan_drift": {"changed": 0, "added": 0, "removed": 0, "ok": true},
     "suite": {"exit": 0, "ok": true}, "ok": true}
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# sf0.01 is the DRIVER's judging scale factor (VERDICT r11 ask #2: the
# d14_rolling_corr -0.0 edge only manifested at sf0.01, which the builder
# gates never ran) — all three SFs now gate every close
PARITY_SFS = (
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
)


def _run(cmd: list[str], timeout: int = 3600) -> tuple[int, str]:
    """Run a gate in a fresh subprocess; return (exit, combined output).

    A hung gate must NOT abort the close — a TimeoutExpired here would
    otherwise propagate and leave no ROUNDCLOSE_r{N}.json at all, so it is
    reported as a failing exit (124) with whatever output was captured.
    """
    try:
        p = subprocess.run(
            cmd,
            cwd=ROOT,
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
            timeout=timeout,
        )
    except subprocess.TimeoutExpired as ex:
        out = ex.stdout if isinstance(ex.stdout, str) else (
            ex.stdout.decode(errors="replace") if ex.stdout else ""
        )
        return 124, out + f"\n[roundclose] gate timed out after {timeout}s"
    return p.returncode, p.stdout


def main() -> None:
    args = sys.argv[1:]
    if not args or not args[0].isdigit():
        sys.exit("usage: python tools/roundclose.py <round_number> [flags]")
    rnd = int(args[0])
    skip_suite = "--skip-suite" in args
    skip_parity = "--skip-parity" in args
    py = sys.executable
    report: dict = {"round": rnd, "started_unix": int(time.time())}
    # the SHA the gates run against — must equal the round's final snapshot
    # commit, else a post-rehearsal edit shipped unverified (the r8 red)
    sha_code, sha_out = _run(["git", "rev-parse", "HEAD"], timeout=30)
    st_code, st_out = _run(["git", "status", "--porcelain"], timeout=30)
    report["git_sha"] = sha_out.strip() if sha_code == 0 else None
    report["git_dirty"] = bool(st_out.strip()) if st_code == 0 else None
    ok = True

    # r9 ADVICE: code dirt and artifact dirt are different things. The
    # files THIS tool (re)writes may legitimately be dirty at close — they
    # are committed in the artifacts-only snapshot right after — but any
    # OTHER dirty path means the gates are running against code that is
    # not what will ship, which is exactly the r8 post-rehearsal-edit
    # failure mode. Fail the close on code dirt.
    artifact_pat = re.compile(
        r"^(ROUNDCLOSE|CORRECTNESS|BENCH|BENCHSWEEP|BENCHDETAIL|SHUFFLE)"
        r"_r\d+\.json$|^BENCHDETAIL\.json$|^CERTIFIED\.md$"
    )
    dirty_paths = [
        ln[3:].strip() for ln in st_out.splitlines() if ln.strip()
    ] if st_code == 0 else []
    code_dirt = [p for p in dirty_paths if not artifact_pat.match(p)]
    report["dirty_artifacts"] = [p for p in dirty_paths if artifact_pat.match(p)]
    report["dirty_code"] = code_dirt
    if code_dirt:
        ok = False
        print(f"git: FAIL — dirty NON-artifact paths at close: {code_dirt}")

    # 1. driver-window rehearsal: the exact first-50 registry slice, driver
    # order, one process (catches cross-query interference)
    code, out = _run([py, "tools/parity.py", "--window"])
    m = re.search(r"(\d+)/(\d+) green", out)
    report["window"] = {
        "green": int(m.group(1)) if m else None,
        "total": int(m.group(2)) if m else None,
        "ok": code == 0,
    }
    ok &= code == 0
    print(f"window: {'OK' if code == 0 else 'FAIL'} "
          f"({report['window']['green']}/{report['window']['total']})")

    # 1b. regenerate the CERTIFIED.md ledger from every CORRECTNESS file on
    # disk + the LIVE registry (VERDICT r6 ask #2: the ledger drifted one
    # round stale twice in a row when regeneration was left as a mid-round
    # manual step) — the round cannot close with a stale ledger
    code, out = _run([py, "tools/make_certified.py"], timeout=300)
    m = re.search(r"(\d+)/(\d+) certified, (\d+) pending", out)
    report["certified_ledger"] = {
        "certified": int(m.group(1)) if m else None,
        "oracle_total": int(m.group(2)) if m else None,
        "pending_in_window": int(m.group(3)) if m else None,
        "ok": code == 0,
    }
    ok &= code == 0
    print(f"certified ledger: {'OK' if code == 0 else 'FAIL'} "
          f"({report['certified_ledger']})")

    # 1c. re-cert cadence guard (VERDICT r10 ask #7, ADVISORY — never
    # fails the close): any certified query whose last driver-green is
    # >=6 rounds old and which is NOT queued in the current window has
    # drifted too long without a re-check; surface it here so staleness
    # stops depending on judge archaeology.
    import glob as _glob
    import json as _json

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from conceptnetwork_spark.registry import CERT_FIRST

    last_green: dict[str, int] = {}
    for p in sorted(_glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnum = int(re.search(r"_r(\d+)\.json$", p).group(1))
        try:
            for q, rec in _json.load(open(p)).items():
                if isinstance(rec, dict) and rec.get("hash_match"):
                    last_green[q] = max(last_green.get(q, 0), rnum)
        except (OSError, ValueError):
            continue
    stale = sorted(
        q for q, r in last_green.items()
        if rnd - r >= 6 and q not in CERT_FIRST
    )
    report["stale_certs"] = {
        "threshold_rounds": 6,
        "stale_outside_window": stale,
    }
    if stale:
        print(f"stale certs (ADVISORY): {len(stale)} queries last green "
              f">=6 rounds ago and not in the current window: "
              f"{stale[:10]}{'...' if len(stale) > 10 else ''}")
    else:
        print("stale certs: none outside the current window")

    # 2. oracle parity and the -0.0 check at every scale factor
    report["parity"] = {}
    if not skip_parity:
        for sf_dir in PARITY_SFS:
            code, out = _run([py, "tools/parity.py", sf_dir])
            m = re.search(r"(\d+)/(\d+) oracle queries match", out)
            z = re.search(r"negzero sweep: (\d+) flagged", out)
            key = os.path.basename(sf_dir)
            report["parity"][key] = {
                "match": int(m.group(1)) if m else None,
                "total": int(m.group(2)) if m else None,
                "negzero_flagged": int(z.group(1)) if z else None,
                "ok": code == 0,
            }
            ok &= code == 0
            print(f"parity {key}: {'OK' if code == 0 else 'FAIL'} "
                  f"({report['parity'][key]['match']}/"
                  f"{report['parity'][key]['total']})")

    # 3. plan-drift radar vs HEAD (explain_audit must have been re-run and
    # committed whenever a plan legitimately changed, so drift here = a
    # silent physical-plan regression)
    code, out = _run([py, "tools/plan_drift.py", "HEAD"])
    m = re.search(r"(\d+) changed, (\d+) added, (\d+) removed", out)
    # removed plans are drift too (a query silently dropping out of the
    # audit is as suspicious as a changed plan); added is informational —
    # new queries legitimately add plans mid-round
    report["plan_drift"] = {
        "changed": int(m.group(1)) if m else None,
        "added": int(m.group(2)) if m else None,
        "removed": int(m.group(3)) if m else None,
        "ok": code == 0 and bool(m) and m.group(1) == "0" and m.group(3) == "0",
    }
    ok &= report["plan_drift"]["ok"]
    print(f"plan drift: {'OK' if report['plan_drift']['ok'] else 'FAIL'} "
          f"({report['plan_drift']})")

    # 4. full pytest suite
    if not skip_suite:
        # no explicit -q: pyproject addopts already applies one -q, and a
        # second escalates to -qq which suppresses the "N passed" summary
        # line this step parses. The explicit -m overrides the addopts
        # default of 'not slow' (the driver's verify window skips the
        # slow-marked subprocess/streaming tests; the round close must not).
        code, out = _run(
            [py, "-m", "pytest", "tests/", "-m", "slow or not slow"],
            timeout=5400,
        )
        m = re.search(r"(\d+) passed", out)
        report["suite"] = {
            "exit": code,
            "passed": int(m.group(1)) if m else None,
            "ok": code == 0,
        }
        ok &= code == 0
        print(f"suite: {'OK' if code == 0 else 'FAIL'} "
              f"(exit {code}, {report['suite']['passed']} passed)")

    # 5. the one pass over the registry at sf0.1: every query once, fully
    # materialized -> BENCHSWEEP_r{N}.json (seconds) and SHUFFLE_r{N}.json
    # (shuffled/spilled bytes); fails on a query failure, a lost stage or
    # any >2 GB single-query shuffle
    if "--skip-bench" not in args:
        code, out = _run(
            [py, "tools/shuffle_audit.py", "/root/testdata/sf0.1",
             "--round", str(rnd)],
            timeout=3600,
        )
        srec = None
        for line in out.splitlines():
            line = line.strip()
            if line.startswith("{"):
                try:
                    srec = json.loads(line)
                except json.JSONDecodeError:
                    pass
        srec = srec or {}
        report["sweep"] = {
            "exit": code,
            "total_sec": srec.get("sweep_total_sec"),
            "n_queries": srec.get("n_queries"),
            "failures": srec.get("failures"),
            "lost_stage_queries": srec.get("lost_stage_queries"),
            "total_shuffle_write_bytes": srec.get("total_shuffle_write_bytes"),
            "over_cap": srec.get("over_cap"),
            "ok": code == 0,
        }
        ok &= code == 0
        print(f"sweep: {'OK' if code == 0 else 'FAIL'} ({report['sweep']})")

    # 6. headline bench -> BENCHDETAIL_r{N}.json (VERDICT r6 ask #7: the
    # driver's BENCH_r{N}.json tail-capture truncates the full-detail line,
    # so the per-query headline detail is persisted as its own artifact)
    if "--skip-bench" not in args:
        code, out = _run([py, "bench.py"], timeout=1800)
        dsrc = os.path.join(ROOT, "BENCHDETAIL.json")
        headline = None
        if code == 0 and os.path.exists(dsrc):
            with open(dsrc) as f:
                headline = json.load(f)
            dpath = os.path.join(ROOT, f"BENCHDETAIL_r{rnd:02d}.json")
            with open(dpath, "w") as f:
                json.dump(headline, f)
                f.write("\n")
            print(f"wrote {dpath}")
        report["headline"] = {
            "exit": code,
            "total_sec": (headline or {}).get("value"),
            "n_queries": len((headline or {}).get("queries", {})) or None,
            "ok": code == 0 and headline is not None,
        }
        ok &= report["headline"]["ok"]
        print(f"headline: {'OK' if report['headline']['ok'] else 'FAIL'} "
              f"({report['headline']})")

    report["ok"] = bool(ok)
    report["finished_unix"] = int(time.time())
    path = os.path.join(ROOT, f"ROUNDCLOSE_r{rnd:02d}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(f"wrote {path}: {'ALL GREEN' if ok else 'FAILURES PRESENT'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
