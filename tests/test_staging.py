"""The fixture-staging policy (sources/staging.py): content-keyed stage
dirs, published whole by one rename or not at all."""

import glob
import os
import shutil
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from conceptnetwork_spark.operators.pipeline import stage_evolved_events
from conceptnetwork_spark.sources import staging
from conceptnetwork_spark.streaming.ops import (
    _stage_late_arrival,
    _stage_parity_batches,
)
from tests.conftest import SF_SMOKE


def _rows(stage: str) -> int:
    return sum(pq.read_metadata(p).num_rows for p in glob.glob(f"{stage}/*.parquet"))


def test_same_basename_different_content_gets_distinct_stages(tmp_path):
    """Two sf dirs that share a basename but hold different events must
    each be served their own rows, never the other's stage."""
    events = pq.read_table(f"{SF_SMOKE}/events.parquet")
    # each expected count is the stage's rows as a function of the source
    expected = {
        _stage_late_arrival: lambda t: t.num_rows,
        _stage_parity_batches: lambda t: t.filter(
            pc.field("event_type") == "click"
        ).num_rows,
        stage_evolved_events: lambda t: t.filter(
            pc.field("event_id") < 2000
        ).num_rows,
    }
    stages = []
    try:
        for n in (200, 500):
            sf = tmp_path / str(n) / "sfDEMO_stale_probe"
            sf.mkdir(parents=True)
            src = events.slice(0, n)
            pq.write_table(src, str(sf / "events.parquet"))
            for stager, want in expected.items():
                if stager is stage_evolved_events:
                    stage = stager(str(sf))
                else:
                    stage = stager(None, str(sf))  # pyarrow-only stagers
                stages.append(stage)
                assert _rows(stage) == want(src), (stager.__name__, n)
        assert len(set(stages)) == len(stages)
    finally:
        for d in stages:
            shutil.rmtree(d, ignore_errors=True)


@pytest.fixture
def stage_root(monkeypatch, tmp_path):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def test_failed_build_publishes_nothing_and_next_call_builds(stage_root):
    def boom(tmp):
        open(os.path.join(tmp, "half.txt"), "w").close()
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        staging.staged("probe", boom)
    assert os.listdir(stage_root) == []  # no stage, no *.tmp

    def ok(tmp):
        with open(os.path.join(tmp, "full.txt"), "w") as fh:
            fh.write("ok")

    path = staging.staged("probe", ok)
    assert path == staging.stage_path("probe")
    assert os.listdir(path) == ["full.txt"]
    assert glob.glob(f"{stage_root}/*.tmp") == []


def test_lost_race_returns_winner_and_removes_tmp(stage_root):
    def racer(tmp):
        # a concurrent stager publishes first, while this build runs
        winner = staging.stage_path("race")
        os.makedirs(winner)
        open(os.path.join(winner, "winner.txt"), "w").close()
        open(os.path.join(tmp, "loser.txt"), "w").close()

    path = staging.staged("race", racer)
    assert path == staging.stage_path("race")
    assert os.listdir(path) == ["winner.txt"]
    assert glob.glob(f"{stage_root}/*.tmp") == []


def test_failed_publish_raises(stage_root, monkeypatch):
    def refuse(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(os, "rename", refuse)
    with pytest.raises(OSError, match="rename refused"):
        staging.staged("probe", lambda tmp: None)
    assert os.listdir(stage_root) == []
