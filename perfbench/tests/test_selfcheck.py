"""Fast self-check of the benchmark: at sf0.001 with a tiny line count, every
metric named in BENCHMARK.json is printed with its unit for every workload,
untraced (end-to-end metrics) and traced (per-layer metrics), no operation
fails, and the per-layer metrics of the layers a workload exercises are not
zero on it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


_EXECUTE = ["execute.s", "execute.jobs", "execute.tasks", "execute.output_rows",
            "execute.shuffle_write_bytes", "execute.shuffle_records"]
_STREAM = ["streaming.batches", "streaming.batch_ms", "streaming.add_batch_ms",
           "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
           "streaming.query_planning_ms", "streaming.state_commit_ms",
           "streaming.state_rows_total", "streaming.state_memory_bytes"]
# Per-layer metrics that must not read 0 on a workload: the layers it exists
# to measure. Two are left out because they read 0 on a healthy warm pass and
# are there to show a change that makes them happen: execute.spill_bytes (no
# spill while memory suffices) and execute.python_boot_s (warm passes reuse
# the Python workers the cold pass started).
NONZERO = {
    "relational": ["catalog.table_open_s", "catalog.table_s", "catalog.table_calls",
                   "operators.build_s", "operators.build_jobs", "plan.analysis_s",
                   "plan.optimization_s", "plan.planning_s", *_EXECUTE, "execute.scan_s",
                   "execute.agg_s", "execute.sort_s", "execute.broadcast_collect_s",
                   *_STREAM],
    "llm_ops": ["operators.build_s", "operators.build_jobs", *_EXECUTE,
                "execute.python_eval_s"],
    "stream_state": _STREAM,
    "concept_dataprep": ["sources.dataprep.run_s", "network.write_tfrecord_s",
                         "network.read_s", "sources.tfrecord.read_s",
                         "sources.tfrecord.shards", "sources.output_bytes_per_input_byte"],
}
_ALWAYS = ["session.get_spark_s", "registry.load_s", "jvm_peak_rss_mb"]


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, SPEC["command"][1]), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
           "--lines", "300"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
# llm_ops and stream_state are not in BENCHMARK.json (see workloads.py) but
# stay runnable; they are the workloads with Python workers and with more
# than one stream
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]]
                         + ["llm_ops", "stream_state"])
def test_every_metric_printed_with_unit(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        zero = [k for k in NONZERO[workload] + _ALWAYS if not result["metrics"][k]["value"] > 0]
        assert not zero, f"{workload}: per-layer metrics read 0: {zero}"
