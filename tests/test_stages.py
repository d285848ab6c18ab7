"""tools/stages.py: per-query stage bytes from the in-process status store,
read on the shared session (UI off) at sf0.001."""

import os
import sys

import pytest

from tests.conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from stages import LostStageError, StageReader  # noqa: E402


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
