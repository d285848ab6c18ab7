"""Partitioned-layout tests: static pruning, dynamic partition pruning, and
result parity with the unpartitioned form."""

import pytest
from pyspark.sql import functions as F

from conceptnetwork_spark.sources.layout import read_partitioned, write_partitioned
from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def orders_by_year(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout") / "orders_by_year")
    orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    write_partitioned(
        orders,
        path,
        ["o_year"],
        derive={"o_year": F.year("o_orderdate")},
        sort_col="o_orderkey",
    )
    return path


def test_static_partition_pruning(spark, orders_by_year):
    """A literal filter on the partition column must prune directories at
    plan time: PartitionFilters on the scan, and only the matching year's
    rows are read."""
    df = read_partitioned(spark, orders_by_year).where(F.col("o_year") == 1996)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_year" in plan
    expected = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .where(F.year("o_orderdate") == 1996)
        .count()
    )
    assert df.count() == expected


def test_dynamic_partition_pruning(spark, orders_by_year):
    """When the partition column is a join key fed by a filtered build side,
    the optimizer must inject a runtime pruning subquery on the fact scan
    (`dynamicpruning` in the optimized plan)."""
    fact = read_partitioned(spark, orders_by_year)
    years = (
        spark.range(1995, 2002)
        .select(F.col("id").cast("int").alias("y"))
        .withColumn("wanted", F.col("y") <= 1996)
    )
    dim = years.where(F.col("wanted"))
    joined = fact.join(dim, fact.o_year == dim.y).groupBy("y").agg(
        F.count(F.lit(1)).alias("n")
    )
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized


def test_partitioned_roundtrip_parity(spark, orders_by_year):
    """Partitioning must not change query answers: a non-partition-column
    aggregation over the tree equals the same over the flat file."""
    part = read_partitioned(spark, orders_by_year)
    flat = spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
    a = part.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    b = flat.agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (a.n, a.s) == (b.n, b.s)


def test_vacuum_retention_layout(spark, tmp_path):
    """vacuum_dir's filesystem contract (the side the oracle can't see):
    stale orphans deleted, recent orphans and every manifest file kept,
    manifest-committed content byte-identical after the vacuum."""
    import os
    import shutil
    import time

    from conceptnetwork_spark.operators.pipeline import vacuum_dir

    work = str(tmp_path / "table")
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    df.repartition(2).write.parquet(work)
    live = sorted(f for f in os.listdir(work) if f.endswith(".parquet"))
    before = sorted(r.k for r in spark.read.parquet(*[os.path.join(work, f) for f in live]).collect())

    now = time.time()
    stale = os.path.join(work, "orphan_stale.parquet")
    shutil.copyfile(os.path.join(work, live[0]), stale)
    os.utime(stale, (now - 7200, now - 7200))
    recent = os.path.join(work, "orphan_recent.parquet")
    shutil.copyfile(os.path.join(work, live[0]), recent)

    removed, kept = vacuum_dir(set(live), work, retention_s=3600)
    assert removed == ["orphan_stale.parquet"]
    assert kept == ["orphan_recent.parquet"]
    assert not os.path.exists(stale) and os.path.exists(recent)
    assert all(os.path.exists(os.path.join(work, f)) for f in live)
    after = sorted(r.k for r in spark.read.parquet(*[os.path.join(work, f) for f in live]).collect())
    assert after == before


def test_staging_restages_on_source_change(tmp_path):
    """Fixture staging dirs must be keyed on a CONTENT fingerprint of the
    source, not just its basename: regenerating the testdata at the same
    path (new bytes, new mtime) must produce a NEW staging dir with the new
    rows, never silently replay the stale fixture (r7 ask #3). The
    fingerprint is cached per-process (staging must not flap mid-session),
    so a new session is simulated by clearing the cache."""
    import shutil

    import pyarrow.parquet as pq

    from conceptnetwork_spark.operators.pipeline import (
        stage_orders_fragfiles,
        stage_orders_rangefiles,
    )
    from conceptnetwork_spark.sources import staging

    sf = tmp_path / "sfX"
    sf.mkdir()
    src = str(sf / "orders.parquet")
    full = pq.read_table(f"{SF_ORACLE}/orders.parquet")

    staging._SF_FP_CACHE.clear()
    pq.write_table(full.slice(0, 100), src)
    d1_range = stage_orders_rangefiles(str(sf))
    d1_frag = stage_orders_fragfiles(str(sf))
    n1 = pq.read_table(d1_range).num_rows
    assert n1 == 100 and pq.read_table(d1_frag).num_rows == 100

    # same content, new session: must hit the same staging dir (idempotent)
    staging._SF_FP_CACHE.clear()
    assert stage_orders_rangefiles(str(sf)) == d1_range

    # regenerate the source in place with DIFFERENT content, new session
    staging._SF_FP_CACHE.clear()
    pq.write_table(full.slice(0, 250), src)
    d2_range = stage_orders_rangefiles(str(sf))
    d2_frag = stage_orders_fragfiles(str(sf))
    assert d2_range != d1_range and d2_frag != d1_frag
    assert pq.read_table(d2_range).num_rows == 250
    assert pq.read_table(d2_frag).num_rows == 250

    for d in (d1_range, d1_frag, d2_range, d2_frag):
        shutil.rmtree(d, ignore_errors=True)
    staging._SF_FP_CACHE.clear()


def test_zorder_row_conservation_and_cache_release(spark):
    """r9 ADVICE pins for d35_zorder_interleave: (a) the offsets inner join
    must be row-CONSERVING — every order lands in exactly one file per
    layout, so per-layout SUM(n_rows) equals the orders row count (a
    silently re-sampled range exchange would drop rows here, loudly); and
    (b) the builder must not LEAK cached relations — the numbering pass is
    persisted per layout arm but released before the builder returns (the
    bench runs this query 4x per session; the sweep and the 10x
    scale-stress once more each)."""
    from conceptnetwork_spark.registry import queries

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cache_mgr.isEmpty()
    res = queries()["d35_zorder_interleave"](spark, SF_ORACLE)
    n_orders = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").count()
    per_layout = {
        r["layout"]: r["tot"]
        for r in res.groupBy("layout").agg(F.sum("n_rows").alias("tot")).collect()
    }
    assert per_layout == {"linear": n_orders, "zorder": n_orders}
    # DataFrame.persist registers in the CacheManager and ONLY unpersist()
    # releases it; localCheckpoint blocks live outside it and are
    # ContextCleaner-freed when the result drops. So: the builder must not
    # have added a CacheManager entry that survives its return.
    if was_empty:
        assert cache_mgr.isEmpty(), (
            "builder leaked a persisted relation in the CacheManager"
        )
