"""Custom Python data source (the Spark-4 ``pyspark.sql.datasource`` API):
a partitioned deterministic generator source, registered as ``synthrange``.

This is the extension point for reading formats Spark has no built-in
connector for (internal RPC feeds, bespoke binary logs) WITHOUT leaving
Python: the engine calls ``partitions()`` once for the split plan and then
``read(partition)`` on executors — so a well-written source parallelizes
exactly like a file scan. The generator here is closed-form on purpose:
row i -> (i, i*i % 97, md5-derived label), so a DuckDB oracle can recompute
every byte and the driver hash-checks the full source -> DataFrame path
(split planning, per-partition iteration, type mapping).

Scale note: ``partitions()`` returns ``n_parts`` independent slices; the
per-partition generator never materializes the whole range. A real source
would map partitions to file splits / shard ids the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from conceptnetwork_spark.catalog import catalog
from conceptnetwork_spark.registry import register

SYNTH_N = 20_000
SYNTH_PARTS = 8


class _SynthRangeReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", SYNTH_N))
        self.n_parts = int(options.get("partitions", SYNTH_PARTS))

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition):
        # contiguous slice per partition; bounds derived, never materialized
        per = (self.n + self.n_parts - 1) // self.n_parts
        lo = partition.value * per
        hi = min(lo + per, self.n)
        for i in range(lo, hi):
            yield (i, (i * i) % 97)


class SynthRangeSource(DataSource):
    @classmethod
    def name(cls):
        return "synthrange"

    def schema(self):
        return "i bigint, v bigint"

    def reader(self, schema):
        return _SynthRangeReader(self.options)


def register_python_source(spark: SparkSession) -> None:
    """Idempotent per-session registration of the custom source."""
    key = "_cn_synthrange_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(SynthRangeSource)
        setattr(spark, key, True)


@register(
    "d01_python_datasource",
    oracle=f"""
    SELECT CAST(i AS BIGINT) AS i,
           CAST((i * i) % 97 AS BIGINT) AS v
    FROM range(0, {SYNTH_N}) t(i)
    WHERE (i * i) % 97 < 50
    ORDER BY i
    """,
)
def d01_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end custom Python data source: register ``synthrange``, read
    it with 8 planned partitions, filter and project. The oracle recomputes
    the generator in SQL, so split planning, per-partition iteration and
    Arrow type mapping are all on the hash. (The filter does NOT push into
    a Python source — pushdown requires implementing the source's filter
    API — so it runs as a post-scan Filter; the plan test pins the
    partition count instead.)"""
    register_python_source(spark)
    df = (
        spark.read.format("synthrange")
        .option("n", str(SYNTH_N))
        .option("partitions", str(SYNTH_PARTS))
        .load()
    )
    return df.where(F.col("v") < 50).orderBy("i")


# --------------------------------------------------------------------------
# D1/D25 bridge (round 5) — the STREAMING side of the Python data source
# API: SimpleDataSourceStreamReader (driver-side prefetch, offset dict
# bookkeeping, deterministic replay via readBetweenOffsets).
# --------------------------------------------------------------------------
STREAM_CHUNK = 4_096


class _SynthRangeStreamReader:
    """Bounded deterministic stream: each read() returns the next chunk of
    the same closed-form rows the batch reader generates, as
    (iterator, next_offset); past n it returns an empty iterator with an
    unchanged offset (a quiesced source). readBetweenOffsets regenerates
    any committed range exactly — the replayability contract that makes
    the source usable with checkpoint recovery."""

    def __init__(self, options):
        self.n = int(options.get("n", SYNTH_N))
        self.chunk = int(options.get("chunk", STREAM_CHUNK))

    def initialOffset(self):
        return {"offset": 0}

    def read(self, start):
        lo = start["offset"]
        hi = min(lo + self.chunk, self.n)
        if hi == lo:
            # quiesced: pyspark's prefetch cache validates an unchanged
            # offset by calling next() on the batch — so the empty batch
            # must be an ITERATOR, not a list (datasource_internal.py
            # add_result_to_cache)
            return (iter(()), {"offset": lo})
        # a LIST, not a generator: the prefetched batch lives in the
        # driver-side replay cache, which copy.copy()s entries before
        # chaining — a list copy is position-free and re-iterable
        return ([(i, (i * i) % 97) for i in range(lo, hi)], {"offset": hi})

    def readBetweenOffsets(self, start, end):
        return [(i, (i * i) % 97) for i in range(start["offset"], end["offset"])]

    def commit(self, end):
        pass


def _simple_stream_reader(self, schema):
    return _SynthRangeStreamReader(self.options)


# attach to the same source class: one format name ("synthrange") serves
# spark.read AND spark.readStream, exactly like a built-in connector
SynthRangeSource.simpleStreamReader = _simple_stream_reader


@register(
    "d01_python_stream_source",
    oracle=f"""
    SELECT CAST(i AS BIGINT) AS i,
           CAST((i * i) % 97 AS BIGINT) AS v
    FROM range(0, {SYNTH_N}) t(i)
    WHERE (i * i) % 97 < 50
    ORDER BY i
    """,
)
def d01_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python source read as a STREAM (Spark-4
    SimpleDataSourceStreamReader): offsets advance one chunk per
    micro-batch, the memory sink accumulates until the bounded source
    quiesces, and the final content must equal the batch read — the same
    closed-form oracle as d01_python_datasource, so offset bookkeeping,
    chunked prefetch, and stream-side type mapping are all on the hash.

    Scale shape: the Simple reader variant prefetches on the DRIVER — the
    right trade for low-volume control-plane feeds (this source's use
    case); high-volume sources implement the partitioned streamReader the
    same way the batch reader plans partitions."""
    import uuid as _uuid

    from conceptnetwork_spark.streaming.ops import await_rows

    register_python_source(spark)
    stream = (
        spark.readStream.format("synthrange")
        .option("n", str(SYNTH_N))
        .option("chunk", str(STREAM_CHUNK))
        .load()
        .where(F.col("v") < 50)
    )
    name = f"pystream_{_uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    # bounded source: stop once every chunk has been ingested (the source
    # quiesces at n; expected row count is known in closed form)
    expected = sum(1 for i in range(SYNTH_N) if (i * i) % 97 < 50)
    await_rows(q, spark.table(name), expected, 120)
    return spark.table(name).orderBy("i")


# --------------------------------------------------------------------------
# D1 extension (round 6) — the WRITE side of the Python data source API:
# DataSourceWriter with a real two-phase commit (task temp files -> commit
# messages -> driver-side atomic publish), completing the custom-connector
# surface (batch read + stream read + batch WRITE)
# --------------------------------------------------------------------------
def _make_jsonl_sink():
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Committed(WriterCommitMessage):
        def __init__(self, tmp_name: str, n_rows: int):
            self.tmp_name = tmp_name
            self.n_rows = n_rows

    class JsonlWriter(DataSourceWriter):
        """Task side: write rows to an uncommitted .tmp file, report it in
        the commit message. Driver side: commit() publishes every reported
        temp file with an atomic rename (abort() removes them) — the same
        two-phase protocol FileOutputCommitter implements, so a failed/
        speculative task can never leave a half-visible file."""

        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import json as _json
            import os as _os
            import uuid as _uuid

            name = f"part-{_uuid.uuid4().hex}.jsonl.tmp"
            n = 0
            with open(_os.path.join(self.path, name), "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
                    n += 1
            return _Committed(name, n)

        def commit(self, messages):
            import os as _os

            for m in messages:
                final = _os.path.join(self.path, m.tmp_name[: -len(".tmp")])
                _os.rename(_os.path.join(self.path, m.tmp_name), final)

        def abort(self, messages):
            import glob as _glob
            import os as _os

            # messages holds None for tasks that never completed, and the
            # FAILING task's own temp file was never reported at all — so
            # clean reported temps first, then sweep any stragglers by
            # pattern (the path is job-scoped, so the sweep cannot touch
            # another job's files)
            for m in messages:
                if m is None:
                    continue
                try:
                    _os.remove(_os.path.join(self.path, m.tmp_name))
                except OSError:
                    pass
            for leftover in _glob.glob(_os.path.join(self.path, "*.jsonl.tmp")):
                try:
                    _os.remove(leftover)
                except OSError:
                    pass

    class JsonlSinkSource(DataSource):
        @classmethod
        def name(cls):
            return "jsonlsink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSinkSource


@register(
    "d01_python_datasink",
    oracle="""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS price
    FROM orders WHERE o_orderkey < 3000
    ORDER BY o_orderkey
    """,
)
def d01_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python WRITE path: a bounded orders
    extract is written by the ``jsonlsink`` source (per-task temp files,
    driver-side two-phase commit with atomic renames), then read back
    with the built-in json reader and compared against the base relation
    — partitioned write, commit-message plumbing, JSON encoding and the
    publish step are all on the hash. Only committed ``.jsonl`` files are
    read, so an uncommitted straggler file could only ever surface as a
    hash mismatch.

    Scale shape: the commit protocol is the point — per-task temp +
    driver publish is how every real sink avoids partial visibility
    under task retries and speculation; the Python writer itself is the
    escape hatch for sinks Spark lacks a connector for (internal APIs,
    bespoke formats), with the same executor parallelism as any write."""
    import glob as _glob
    import os as _os

    from conceptnetwork_spark.sources.staging import scratch_dir

    key = "_cn_jsonlsink_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(_make_jsonl_sink())
        setattr(spark, key, True)

    # unique dir per call (every invocation exercises the real write +
    # commit), removed with the session so the returned scan stays LAZY
    # — no driver-side collect of the result
    outdir = scratch_dir(spark, "jsonlsink")
    o = (
        catalog(spark, sf_dir).orders
        .where(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    o.write.format("jsonlsink").option("path", outdir).mode("append").save()
    committed = _os.path.join(outdir, "*.jsonl")
    assert _glob.glob(committed), "sink committed no files"
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(committed)
    return back.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 4).alias("price"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Spark 4.1 Python data source FILTER PUSHDOWN (DataSourceReader.pushFilters)
# — and a result that can only hash-match if the pushdown actually reached
# read(): every emitted row carries scan_rows, the number of rows the
# reader GENERATED for its partition. With the grp filter pushed, each
# partition generates exactly per/10 rows; without pushdown it would
# generate `per` rows, scan_rows would be 10x larger, and the oracle hash
# would break. The residual val-range filter stays Spark-side (pushFilters
# returns it), certifying the split contract too.
# --------------------------------------------------------------------------
PD_N = 20_000
PD_PARTS = 4
PD_GRP = 3  # the equality literal the query pushes down


class _PushdownReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", PD_N))
        self.n_parts = int(options.get("partitions", PD_PARTS))
        self.grp: int | None = None

    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            # accept only `grp = <lit>`; everything else stays Spark-side
            if isinstance(f, EqualTo) and f.attribute == ("grp",):
                self.grp = int(f.value)
            else:
                yield f

    def partitions(self):
        return [InputPartition(p) for p in range(self.n_parts)]

    def read(self, partition):
        per = (self.n + self.n_parts - 1) // self.n_parts
        lo = partition.value * per
        hi = min(lo + per, self.n)
        rows = [
            (i, i % 10, (i * 7) % 1000)
            for i in range(lo, hi)
            if self.grp is None or i % 10 == self.grp
        ]
        scan = len(rows)  # what this partition actually generated
        for i, grp, val in rows:
            yield (i, grp, val, partition.value, scan)


class PushdownSource(DataSource):
    @classmethod
    def name(cls):
        return "synthpushdown"

    def schema(self):
        return "i bigint, grp int, val bigint, part int, scan_rows bigint"

    def reader(self, schema):
        return _PushdownReader(self.options)


def register_pushdown_source(spark: SparkSession) -> None:
    if getattr(spark, "_cn_pushdown_src", False):
        return
    spark.dataSource.register(PushdownSource)
    spark._cn_pushdown_src = True


@register(
    "d01_python_pushdown",
    # oracle re-derives what a PUSHED scan generates: per partition,
    # exactly the grp==3 slice (per/10 rows) — scan_rows != that value
    # (e.g. the unpushed `per`) breaks the hash
    oracle=f"""
    WITH rows AS (
      SELECT i, i % 10 AS grp, (i * 7) % 1000 AS val,
             CAST(i // {(PD_N + PD_PARTS - 1) // PD_PARTS} AS INT) AS part
      FROM (SELECT unnest(range({PD_N})) AS i)
    ), pushed AS (
      SELECT * FROM rows WHERE grp = {PD_GRP}
    ), scans AS (
      SELECT part, COUNT(*) AS scan_rows FROM pushed GROUP BY part
    )
    SELECT p.part,
           CAST(s.scan_rows AS BIGINT) AS scan_rows,
           CAST(COUNT(*) AS BIGINT) AS n_result,
           CAST(SUM(p.val) AS BIGINT) AS sum_val
    FROM pushed p JOIN scans s USING (part)
    WHERE p.val > 500
    GROUP BY p.part, s.scan_rows
    ORDER BY p.part
    """,
)
def d01_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushdown INTO a Python data source (Spark 4.1
    ``DataSourceReader.pushFilters``): the query's ``grp = 3`` equality is
    accepted by the reader (each partition then generates only its grp-3
    slice) while the ``val > 500`` range predicate is returned as residual
    and evaluated by Spark after the scan. The emitted ``scan_rows`` column
    is the count each partition actually produced, so the oracle hash
    certifies the pushdown CONTRACT itself: an unpushed scan would emit
    scan_rows 10x larger, a reader that wrongly swallowed the residual
    filter would change n_result. This is the API that makes bespoke
    Python connectors (internal feeds, service APIs) scan-efficient
    instead of filter-after-transfer.

    Scale shape: split planning + per-partition generation identical to
    d01_python_datasource; the pushdown removes 90% of the transfer before
    Arrow ever sees it."""
    register_pushdown_source(spark)
    # runtime SQL conf, read at scan planning; default false in 4.1
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("synthpushdown")
        .option("n", PD_N)
        .option("partitions", PD_PARTS)
        .load()
    )
    filtered = df.where((F.col("grp") == PD_GRP) & (F.col("val") > 500))
    return (
        filtered.groupBy("part", "scan_rows")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_result"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        .select("part", F.col("scan_rows").cast("long"), "n_result", "sum_val")
        .orderBy("part")
    )
