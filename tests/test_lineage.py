"""Focused pins for the r13 internal changes: the centralized lineage_cut
helper (default local path, reliable-checkpoint switch, eager mode) and the
bucketed per-series grouped map the d14 Holt/Kalman kernels run on."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from conceptnetwork_spark.lineage import lineage_cut


def _grouped(spark):
    return (
        spark.range(100)
        .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def test_lineage_cut_default_is_local_and_result_identical(spark):
    base = _grouped(spark)
    cut = base.transform(lineage_cut)
    plan = cut._sc._jvm.PythonSQLUtils.explainString(
        cut._jdf.queryExecution(), "simple"
    )
    assert "ExistingRDD" in plan  # the cut truncates lineage immediately
    assert sorted(cut.collect()) == sorted(base.collect())


def test_lineage_cut_eager_mode(spark):
    cut = _grouped(spark).transform(lineage_cut, eager=True)
    assert cut.count() == 7


def test_lineage_cut_reliable_switch(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT routes the cut through a reliable
    DataFrame.checkpoint against the given directory (the multi-node
    fault-tolerance path); results are identical and checkpoint data
    lands under the directory once materialized."""
    ckpt_dir = str(tmp_path / "reliable_ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ckpt_dir)
    base = _grouped(spark)
    cut = base.transform(lineage_cut)
    assert sorted(cut.collect()) == sorted(base.collect())
    found = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt_dir)
        for f in fs
    ]
    assert found, "reliable checkpoint wrote nothing under the directory"


_RESTART_SCRIPT = """
from pyspark.sql import functions as F
from conceptnetwork_spark.lineage import lineage_cut
from conceptnetwork_spark.session import get_spark

def run():
    spark = get_spark(app_name="lineage-restart", master="local[1]")
    df = (spark.range(100).select((F.col("id") % 7).alias("k"), "id")
          .groupBy("k").agg(F.sum("id").alias("s")))
    rows = sorted(df.transform(lineage_cut).collect())
    spark.stop()
    return rows

first = run()
second = run()
assert first == second and len(first) == 7, (first, second)
print("OK")
"""


def test_lineage_cut_reliable_survives_session_restart(tmp_path):
    """The reliable path must set the checkpoint directory on every new
    SparkContext: after spark.stop() a fresh session has none, and a
    process-wide "already set" flag made its first cut fail. Runs in its
    own process so it can stop and rebuild the session."""
    env = dict(
        os.environ,
        SPARK_GRAFT_RELIABLE_CHECKPOINT=str(tmp_path / "ckpt"),
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        capture_output=True, text=True, timeout=600, cwd=root, env=env,
    )
    assert proc.returncode == 0 and "OK" in proc.stdout, proc.stderr[-2000:]


def test_per_series_grouped_map_bucket_invariance(spark):
    """One output row per series regardless of how series are co-batched
    into buckets — the invariant the vectorized Holt/Kalman kernels rely
    on (the kernel sees whole series because the bucket key is a pure
    function of user_id)."""
    import pandas as pd

    from conceptnetwork_spark.operators.relational import (
        _per_series_grouped_map,
    )

    daily = spark.range(300).select(
        (F.col("id") % 30).alias("user_id"),
        F.to_date(
            F.concat(F.lit("2031-01-"), F.lpad((F.col("id") % 10) + 1, 2, "0"))
        ).alias("day"),
        (F.col("id") * 1.5).alias("y"),
    ).dropDuplicates(["user_id", "day"])

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        counts = pdf.groupby("user_id").size()
        return pd.DataFrame(
            {"user_id": counts.index.astype("int64"), "n": counts.values}
        )

    out = _per_series_grouped_map(daily, kernel, "user_id LONG, n LONG")
    rows = {r["user_id"]: r["n"] for r in out.collect()}
    expect = {
        r["user_id"]: r["n"]
        for r in daily.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert rows == expect  # every series exactly once, full length


def test_vectorized_series_kernels_match_scalar_loops(spark):
    """The bucketed Holt/Kalman queries must equal a per-series scalar
    reference loop bit-for-bit (the r13 vectorization contract) on the
    smallest fixture."""
    from conceptnetwork_spark import registry
    from conceptnetwork_spark.operators.relational import (
        HOLT_ALPHA,
        HOLT_BETA,
        KALMAN_P0,
        KALMAN_Q,
        KALMAN_R,
    )

    from conceptnetwork_spark.catalog import Catalog

    sf = "/root/testdata/sf0.001"
    qs = registry.queries()
    daily = (
        Catalog(spark, sf)
        .events.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("value").alias("y"))
        .orderBy("user_id", "day")
        .collect()
    )
    series: dict[int, list[float]] = {}
    for r in daily:
        series.setdefault(r["user_id"], []).append(r["y"])

    holt_ref = {}
    kalman_ref = {}
    for uid, ys in series.items():
        l, b = ys[0], 0.0
        for y in ys[1:]:
            l_new = HOLT_ALPHA * y + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
            l = l_new
        holt_ref[uid] = (len(ys), round(l, 4), round(b, 4), round(l + b, 4))
        x, p = ys[0], KALMAN_P0
        for y in ys[1:]:
            pq = p + KALMAN_Q
            k = pq / (pq + KALMAN_R)
            x = x + k * (y - x)
            p = (1 - k) * pq
        kalman_ref[uid] = (
            len(ys),
            round(x, 4),
            round(p, 4),
            round((p + KALMAN_Q) / (p + KALMAN_Q + KALMAN_R), 4),
        )

    holt_out = {
        r["user_id"]: (r["n_days"], r["level"], r["trend"], r["forecast_1"])
        for r in qs["d14_holt_linear"](spark, sf).collect()
    }
    kalman_out = {
        r["user_id"]: (r["n_days"], r["estimate"], r["variance"], r["next_gain"])
        for r in qs["d14_kalman_1d"](spark, sf).collect()
    }
    assert holt_out == holt_ref
    assert kalman_out == kalman_ref
