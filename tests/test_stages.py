"""tools/stages.py: per-query stage bytes from the in-process status store,
read on the shared session (UI off) at sf0.001, and the one timed-query
primitive the tools share."""

import inspect
import os
import re
import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from stages import LostStageError, StageReader, timed_run  # noqa: E402


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _shuffling(spark):
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    return li.groupBy("l_orderkey").count()


def _scan_only(spark):
    return spark.read.parquet(f"{SF_SMOKE}/orders.parquet")


def test_known_shuffle_is_attributed_to_its_query(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"  # no UI, no port
    reader = StageReader(spark)
    _noop(_shuffling(spark))
    shuffled = reader.read()
    assert shuffled["shuffle_write"] > 0 and shuffled["n_stages"] >= 2
    _noop(_scan_only(spark))
    scanned = reader.read()
    assert scanned["shuffle_write"] == 0 and scanned["n_stages"] >= 1
    assert reader.read() == {
        "shuffle_write": 0, "mem_spill": 0, "disk_spill": 0, "n_stages": 0,
    }


def test_second_query_bytes_do_not_leak_into_first(spark):
    reader = StageReader(spark)
    _noop(_shuffling(spark))
    first = reader.read()
    _noop(spark.range(200_000, numPartitions=4).selectExpr("id", "id * 2 AS b")
          .repartition(5))
    second = reader.read()
    _noop(_shuffling(spark))
    again = reader.read()
    assert second["shuffle_write"] > 0
    assert second["shuffle_write"] != first["shuffle_write"]
    assert again == first


def test_lost_stage_raises(spark):
    """Drop one of a query's stages from the status store, as eviction
    would; the read must fail instead of returning a short total, and the
    next read starts clean after it."""
    reader = StageReader(spark)
    _noop(_shuffling(spark))
    sc = spark.sparkContext
    lowest = min(s.stageId() for s in reader._new_stages())
    key = sc._gateway.new_array(sc._jvm.int, 2)
    key[0], key[1] = lowest, 0
    sc._jsc.sc().statusStore().store().delete(reader._wrapper, key)
    with pytest.raises(LostStageError, match=str(lowest)):
        reader.read()
    _noop(_scan_only(spark))
    assert reader.read()["n_stages"] >= 1


def _ranked(spark, sf_dir):
    """A window whose only output count() never reads: under count(),
    Catalyst drops the window and the exchange feeding it."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select("l_orderkey", "l_linenumber",
                     F.row_number().over(w).alias("rn"))


def test_timed_run_measures_the_plan_a_consumer_pays_for(spark):
    reader = StageReader(spark)
    _ranked(spark, SF_SMOKE).count()
    pruned = reader.read()["shuffle_write"]
    _noop(_ranked(spark, SF_SMOKE))
    written = reader.read()["shuffle_write"]
    run = timed_run(spark, _ranked, SF_SMOKE)
    timed = reader.read()["shuffle_write"]
    assert timed == written > pruned
    parts = run["build"] + run["plan"] + run["execute"]
    assert parts == pytest.approx(run["total"], abs=1e-9)
    assert run["plan"] >= 0 and run["compiles"] >= 0


# how a tool could time or materialize a query on its own
_TIMING = {"toRdd": r"toRdd\(", "noop sink": r"format\(\s*[\"']noop",
           "codegen counter": r"codegen_compiles\("}


def test_queries_are_timed_only_in_timed_run():
    """bench.py, ab.py and the registry audit time queries one way: every
    materialization and compile count they take goes through
    stages.timed_run."""
    outside = []
    for rel in ("bench.py", "tools/ab.py", "tools/shuffle_audit.py"):
        with open(os.path.join(ROOT, rel)) as f:
            src = f.read()
        for what, pattern in _TIMING.items():
            for m in re.finditer(pattern, src):
                outside.append(f"{rel}:{src.count(chr(10), 0, m.start()) + 1} {what}")
    assert not outside, outside
    body = inspect.getsource(timed_run)
    assert {w for w, p in _TIMING.items() if re.search(p, body)} == {
        "toRdd", "codegen counter"}
