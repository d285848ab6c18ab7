"""The bounded-stream runner (``streaming/ops.py::run_bounded``) and the
per-run scratch dir it checkpoints into (``sources/staging.py::scratch_dir``):
nothing a run writes outlives its session, a failed run leaves the session's
confs as it found them, and no streaming query is started by hand."""

import ast
import os
import re
import subprocess
import sys
import tempfile

import pytest

from conceptnetwork_spark.streaming import ops
from conceptnetwork_spark.streaming.stateful import d25_state_reader
from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPS = os.path.join(ROOT, "conceptnetwork_spark", "streaming", "ops.py")


def test_streams_leave_nothing_in_tempdir(spark):
    """Checkpoints, the parquet sink dir and the upsert version dirs go
    under the session's own temp dir. The first round stages the fixtures
    and lets the JVM unpack its native codecs, which are meant to stay in
    the temp dir; a second round must add nothing there."""
    queries = (
        ops.d25_stream_ingest,
        ops.d25_parquet_sink,
        ops.d25_stream_upsert,
        d25_state_reader,
    )
    for fn in queries:
        fn(spark, SF_SMOKE).collect()
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for fn in queries:
        assert fn(spark, SF_SMOKE).collect(), fn.__name__
    assert not sorted(set(os.listdir(tmp)) - before)


def test_failed_query_restores_scoped_confs(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.stateStore.providerClass",
    )
    before = [spark.conf.get(k, None) for k in keys]
    assert before[0] != "3"

    def failing_sink(batch_df, batch_id):
        raise ValueError("sink rejected the batch")

    with pytest.raises(Exception, match="sink rejected the batch"):
        ops.run_bounded(
            ops.file_stream(spark, src).groupBy("id").count(),
            "failing",
            mode="update",
            sink=failing_sink,
            state_partitions=3,
            rocksdb=True,
        )
    assert [spark.conf.get(k, None) for k in keys] == before


_RESTART_SCRIPT = """
import glob, os, sys
from conceptnetwork_spark.session import get_spark
from conceptnetwork_spark.streaming.ops import file_stream, run_bounded

src = sys.argv[1]

def run():
    spark = get_spark(app_name="runner-restart", master="local[1]")
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    if not os.path.exists(src):
        spark.range(20).write.parquet(src)
    stream = file_stream(spark, src).groupBy().count()
    q = run_bounded(stream, "probe", mode="complete")
    n = spark.table(q.name).collect()[0][0]
    (ckpt,) = glob.glob(os.path.join(root, "cn_scratch", "probe_*"))
    assert os.path.isdir(os.path.join(ckpt, "offsets")), os.listdir(ckpt)
    spark.stop()
    assert not os.path.exists(ckpt), ckpt
    return root, n

first, second = run(), run()
assert first[0] != second[0] and first[1] == second[1] == 20, (first, second)
print("OK")
"""


def test_checkpoint_removed_at_stop_and_new_session_gets_new_root(tmp_path):
    """Runs in its own process so it can stop and rebuild the session."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, str(tmp_path / "src")],
        capture_output=True, text=True, timeout=600, cwd=ROOT, env=env,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-2000:]


# A stream's checkpoint, trigger, temp path and scoped confs are set in
# one place; any of these outside run_bounded is a hand-rolled lifecycle.
_LIFECYCLE = {
    "checkpoint": r'\.option\(\s*"checkpointLocation"',
    "trigger": r"trigger\(\s*availableNow",
    "tempdir": r"gettempdir\(",
    "provider": r"stateStore\.providerClass",
    "partitions": r'conf\.set\(\s*"spark\.sql\.shuffle\.partitions"',
}


def test_stream_lifecycle_lives_only_in_run_bounded():
    with open(OPS) as f:
        ops_src = f.read()
    (fn,) = [
        n
        for n in ast.parse(ops_src).body
        if isinstance(n, ast.FunctionDef) and n.name == "run_bounded"
    ]
    streaming = os.path.join(ROOT, "conceptnetwork_spark", "streaming")
    files = [os.path.join(streaming, f) for f in sorted(os.listdir(streaming))]
    files = [f for f in files if f.endswith(".py")]
    files.append(os.path.join(ROOT, "tools", "stream_scale.py"))
    inside, outside = set(), []
    for path in files:
        with open(path) as f:
            src = f.read()
        for what, pattern in _LIFECYCLE.items():
            for m in re.finditer(pattern, src):
                line = src.count("\n", 0, m.start()) + 1
                if path == OPS and fn.lineno <= line <= fn.end_lineno:
                    inside.add(what)
                else:
                    outside.append(f"{os.path.relpath(path, ROOT)}:{line} {what}")
    assert not outside, outside
    assert {"checkpoint", "trigger", "provider"} <= inside
