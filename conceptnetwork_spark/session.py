"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB design point and degrades gracefully locally:

- AQE on: runtime partition coalescing, skew-join splitting, and
  join-strategy switching replace hand-tuning per scale factor.
- ``autoBroadcastJoinThreshold`` left at default (10 MB): dimension tables
  (region/nation/customer at TPC-H shapes) broadcast automatically; fact-fact
  joins shuffle. Explicit ``F.broadcast`` hints are still applied in the
  operator layer where we *know* a side is dimension-sized.
- Arrow enabled: every pandas_udf / applyInPandas / mapInPandas crossing is
  Arrow-batched (the reference's ``tf.train.batch`` row->columnar pivot,
  ``conceptnetwork/network.py:240-245``, is exactly this and is free here).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive timestamps) bit-for-bit.
- Python workers start from ``worker_daemon``, not ``pyspark.daemon``:
  pyspark calls ``importlib.invalidate_caches()`` on every task, and on
  CPython 3.11 that re-parses the ``pyspark.zip`` central directory once
  per zip importer the worker holds (65-92 ms of pure Python per task,
  measured on a 4-vCPU host). The daemon re-reads only a changed archive.
  ``get_spark`` appends the package's parent directory to ``PYTHONPATH``
  before the JVM starts, so the daemon and UDFs that call into the package
  import in the workers whatever directory the driver was started from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "conceptnetwork-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS`` so the
    same entry points serve tests (local[*]) and the driver's bench.
    """
    # vendored-protobuf fallback must be on PYTHONPATH BEFORE the JVM (and
    # therefore its Python workers) launches — transformWithStateInPandas'
    # state client imports google.protobuf inside the worker process
    from conceptnetwork_spark.protoshim import append_pythonpath, ensure_protobuf

    ensure_protobuf()
    # the JVM passes PYTHONPATH on to the daemon it launches, which must
    # import conceptnetwork_spark.worker_daemon from any driver cwd
    append_pythonpath(os.environ, _PACKAGE_PARENT)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as long and let the catalog convert to
        # microsecond timestamps in-plan (see Catalog.NANOS_TS_COLS).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local-mode driver == all 32 executor threads in one JVM; an 8g heap
        # GC-thrashes once a long session accumulates shuffle/codegen state
        # (measured: late-session queries inflate ~10x at 8g, flat at 24g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # the retained* caps bound the in-process status store, which stays
        # live with the UI off: tools/stages.py reads per-stage shuffle/spill
        # bytes from it and the benchmark's job counts read its jobs. The
        # default 1000 stages would evict stages during a 404-query pass.
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # JVM-wide whole-stage-codegen cache, read once at the JVM's first
        # compile (static conf). Spark's default of 100 classes is less than
        # the 5-query relational benchmark generates (102), so each warm pass
        # recompiled 23-50 classes in Janino. One pass at sf0.1 (4 cores)
        # compiles 4303 distinct classes over the 404-query registry and
        # 1924 over bench.py's 223 HEADLINE queries; 8192 keeps the registry
        # with headroom for Guava evicting per segment before the cap. A
        # cached class holds about 29 KB of heap.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
        .config("spark.python.daemon.module", "conceptnetwork_spark.worker_daemon")
    )
    return builder.getOrCreate()
