"""Registry-tier invariants the driver contract depends on: the
certification window occupies the first slots IN ORDER, every window slot
carries an oracle, and every oracle-less query sorts after every
oracle-backed one (so a first-N driver window can never sample a query it
cannot hash-check)."""

from conceptnetwork_spark import registry


def test_window_is_registry_head_in_order():
    names = list(registry.queries())
    assert names[: len(registry.CERT_FIRST)] == list(registry.CERT_FIRST)


def test_every_window_slot_has_an_oracle():
    ors = registry.oracles()
    missing = [n for n in registry.CERT_FIRST if n not in ors]
    assert not missing, f"window slots without oracles: {missing}"


def test_oracle_less_queries_sort_after_all_oracle_backed():
    names = list(registry.queries())
    ors = registry.oracles()
    non = registry.non_oracle_queries()
    assert set(names) == set(ors) | set(non)
    idx = {n: i for i, n in enumerate(names)}
    assert max(idx[n] for n in ors) < min(idx[n] for n in non)


def test_oracles_resolve_to_nonempty_sql():
    for name, sql in registry.oracles().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_bench_summary_line_is_tail_capture_proof(capsys):
    """The driver keeps only the last ~2000 bytes of bench stdout and
    parses the LAST line (BENCH_r10.json went parsed:null when the
    flagged_over_1.3x dict outgrew the window). _emit must keep the
    final line under budget no matter how many queries or flags exist."""
    import json as _json

    import bench

    timings = {f"d99_query_{i:03d}": 1.0 + i / 1000 for i in range(400)}
    flags = {f"d99_query_{i:03d}": 9.9 for i in range(300)}
    bench._emit(
        metric="full_sweep_one_shot_wall_clock",
        total=123.4,
        timings=timings,
        extra={
            "sf": 0.1,
            "calibration_sec": 0.5,
            "calibration_kind": bench.CALIBRATION_KIND,
            "host_normalized": {
                "vs": "x", "host_speed_ratio": 1.0,
                "flagged_over_1.3x": flags,
            },
        },
    )
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(last) <= 1800
    rec = _json.loads(last)
    assert rec["metric"] == "full_sweep_one_shot_wall_clock"
    assert rec["value"] == 123.4
    assert rec["n_queries"] == 400
    hn = rec["host_normalized"]
    assert hn["n_flagged"] == 300 and len(hn["flagged_over_1.3x"]) <= 8


def test_bench_summary_line_budget_is_terminal(capsys):
    """ADVICE r11: an unbounded field _emit doesn't know about must not
    reintroduce an over-budget final line at n_slowest=0 — the terminal
    fallback drops everything but metric/value/n_queries."""
    import json as _json

    import bench

    pathological = {"rogue_field": "x" * 5000}  # > LINE_BUDGET by itself
    bench._emit(
        metric="full_sweep_one_shot_wall_clock",
        total=9.9,
        timings={"d01_q": 1.0},
        extra=pathological,
    )
    last = capsys.readouterr().out.strip().splitlines()[-1]
    assert len(last) <= 1800
    rec = _json.loads(last)
    assert rec["metric"] == "full_sweep_one_shot_wall_clock"
    assert rec["value"] == 9.9 and rec["n_queries"] == 1
    assert "rogue_field" not in rec
