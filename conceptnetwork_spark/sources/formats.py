"""Text-format sources: CSV and JSON-lines connectors (SURVEY §2.1 S1
faithful — the reference's only raw input format is newline-delimited text,
``examples/trainer/networks/preprocess.py:52-53``; CSV/JSON-lines are the
two schema-bearing spellings of that shape every ingestion pipeline needs).

Each declared query STAGES a deterministic extract of the parquet testdata
into the format under test (a ``sources/staging.py`` stage), then reads it
back through the Spark source with an explicit schema — proving the
connector end to end: header handling, quoting, type coercion, and
projection. The DuckDB oracle reads the SAME staged file with its own
CSV/JSON reader, so the two engines agree on the parsed bytes, not just on
parquet.

Scale note: both sources are splittable line formats — at 100 TB a CSV/JSON
scan parallelizes by HDFS block exactly like text; schema is explicit (no
inference job: ``spark.read.schema(...)``), and column pruning still applies
(JSON parsing prunes to requested fields; CSV must parse the line but drops
unprojected columns before the plan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from conceptnetwork_spark.registry import register
from conceptnetwork_spark.sources.staging import oracle_sf_dir, stage_path, staged

# Staging is a FIXTURE path (bounded extracts feeding the connector oracle),
# never a data path: refuse to funnel anything fact-table-sized through the
# single-file pandas writer — at 100 TB the engine reads CSV/JSON in place
# via spark.read, it never stages.
_STAGE_ROW_CEILING = 100_000


def _check_ceiling(n_rows: int, what: str) -> None:
    if n_rows > _STAGE_ROW_CEILING:
        raise ValueError(
            f"refusing to stage {n_rows} rows to {what} "
            f"(ceiling {_STAGE_ROW_CEILING}); staging is for bounded "
            "oracle fixtures only — read big tables in place"
        )


def stage_nation_csv(sf_dir: str) -> str:
    """Write nation as ONE deterministic csv file (tiny dim table; single
    file so the oracle path is stable). Reads the parquet with pyarrow
    directly — no SparkSession needed, so oracle staging cannot depend on
    Spark query execution order."""
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        n = (
            pq.read_table(os.path.join(sf_dir, "nation.parquet"))
            .to_pandas()
            .sort_values("n_nationkey")
        )
        _check_ceiling(len(n), "a single local csv")
        n.to_csv(os.path.join(tmp, "nation.csv"), index=False)

    return os.path.join(staged("csv", build, sf_dir), "nation.csv")


def stage_orders_json(sf_dir: str) -> str:
    """Write a bounded orders extract as ONE json-lines file (deterministic
    subset + order); pyarrow filter pushdown keeps the read bounded too."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        o = (
            pq.read_table(
                os.path.join(sf_dir, "orders.parquet"),
                columns=[
                    "o_orderkey",
                    "o_custkey",
                    "o_orderstatus",
                    "o_totalprice",
                    "o_orderpriority",
                ],
                filters=pc.field("o_orderkey") < 1000,
            )
            .to_pandas()
            .sort_values("o_orderkey")
        )
        _check_ceiling(len(o), "a single local json")
        o.to_json(os.path.join(tmp, "orders.json"), orient="records", lines=True)

    return os.path.join(staged("json", build, sf_dir), "orders.json")


def _try_stage(stage_fn, name: str, fname: str) -> str:
    """Stage via ``stage_fn`` at the oracle sf dir; on a bare host (no
    testdata) fall back to the stage's path — the Spark query's own
    staging call fills it in before any oracle runs."""
    sf = oracle_sf_dir()
    try:
        return stage_fn(sf)
    except OSError:
        return os.path.join(stage_path(name, sf), fname)


def _csv_oracle() -> str:
    """LAZY oracle: stage the fixture (idempotent) when the oracle SQL is
    requested — no import-time /tmp writes, and the embedded path is staged
    by the same function the Spark side calls (one source of truth)."""
    path = _try_stage(stage_nation_csv, "csv", "nation.csv")
    return f"""
    SELECT n_nationkey, upper(n_name) AS name_u, n_regionkey
    FROM read_csv('{path}', header=true)
    WHERE n_regionkey >= 2
    ORDER BY n_nationkey
    """


@register("d01_csv_source", oracle=_csv_oracle)
def d01_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector end to end: stage nation to csv, read it back with an
    explicit schema (no inference job), filter + project. Both engines parse
    the same staged bytes — header, quoting and int coercion all checked."""
    path = stage_nation_csv(sf_dir)
    df = (
        spark.read.schema(
            "n_nationkey int, n_name string, n_regionkey int, n_comment string"
        )
        .option("header", "true")
        .csv(path)
    )
    return (
        df.where(F.col("n_regionkey") >= 2)
        .select(
            "n_nationkey", F.upper("n_name").alias("name_u"), "n_regionkey"
        )
        .orderBy("n_nationkey")
    )


def _json_oracle() -> str:
    path = _try_stage(stage_orders_json, "json", "orders.json")
    return f"""
    SELECT o_orderkey, o_orderstatus,
           ROUND(o_totalprice, 4) AS price
    FROM read_json('{path}', format='newline_delimited')
    WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey
    """


@register("d01_json_source", oracle=_json_oracle)
def d01_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector end to end: stage an orders extract as NDJSON,
    read with explicit schema, filter + project. JSON parsing prunes to the
    projected fields (column pruning through the parser)."""
    path = stage_orders_json(sf_dir)
    df = (
        spark.read.schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string"
        )
        .json(path)
    )
    return (
        df.where(F.col("o_orderpriority") == "1-URGENT")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("price"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# ORC source (columnar-format coverage beyond parquet)
# --------------------------------------------------------------------------
def stage_supplier_orc(sf_dir: str) -> str:
    """Write supplier as ONE deterministic ORC file via pyarrow (no Spark
    needed)."""
    import pyarrow.compute as pc
    import pyarrow.orc as po
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(os.path.join(sf_dir, "supplier.parquet"))
        _check_ceiling(t.num_rows, "a single local orc")
        t = t.take(pc.sort_indices(t, sort_keys=[("s_suppkey", "ascending")]))
        po.write_table(t, os.path.join(tmp, "supplier.orc"))

    return os.path.join(staged("orc", build, sf_dir), "supplier.orc")


@register(
    "d01_orc_source",
    # DuckDB has no ORC reader; the staged ORC is a deterministic copy of
    # the supplier parquet, so the oracle reads the SAME rows from parquet —
    # any ORC write/read corruption (types, nulls, encoding) breaks the
    # value hash.
    oracle="""
    SELECT s_suppkey, s_nationkey, ROUND(s_acctbal, 4) AS acctbal
    FROM supplier
    WHERE s_acctbal > 0
    ORDER BY s_suppkey
    """,
)
def d01_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector end to end: stage supplier to ORC (pyarrow writer),
    read back through Spark's native vectorized ORC reader with predicate
    pushdown, project + filter. ORC is splittable by stripe — at 100 TB an
    ORC scan parallelizes like parquet, with the same pushdown/pruning
    machinery (asserted in the plan test)."""
    path = stage_supplier_orc(sf_dir)
    df = spark.read.orc(path)
    return (
        df.where(F.col("s_acctbal") > 0)
        .select("s_suppkey", "s_nationkey", F.round("s_acctbal", 4).alias("acctbal"))
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Partitioned parquet sink (hive-style layout + partition-pruned read-back)
# --------------------------------------------------------------------------
def stage_orders_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Write orders partitioned by o_orderpriority (hive layout, 5 dirs) —
    the standard lakehouse sink shape; written by Spark itself (this is a
    sink test, so the sink must be Spark's)."""

    def build(tmp: str) -> None:
        (
            spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
            .repartition("o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(tmp)
        )

    return staged("part_orders", build, sf_dir)


@register(
    "d01_partitioned_read",
    oracle="""
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 4) AS price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderkey
    """,
)
def d01_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-sink round trip: write orders hive-partitioned by
    priority, read back with a partition predicate. The filter is satisfied
    by PRUNING — the scan lists only the 1-URGENT directory (PartitionFilters
    in the plan, asserted in tests) and reads none of the other four. At
    100 TB partition layout is the first line of defense before row-group
    pushdown; the repartition before the write keeps one file per partition
    value instead of files x tasks small-file spray."""
    path = stage_orders_partitioned(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("price"))
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Corrupt-tolerant CSV ingestion (PERMISSIVE mode + corrupt-record column)
# --------------------------------------------------------------------------
def stage_mixed_csv(sf_dir: str) -> str:
    """Stage a nation CSV with KNOWN bad lines interleaved (wrong arity,
    non-numeric key) — the shape real ingestion faces. Deterministic
    content; bad lines are fixed strings so both engines agree on exactly
    which rows are salvageable."""
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        n = (
            pq.read_table(os.path.join(sf_dir, "nation.parquet"))
            .to_pandas()
            .sort_values("n_nationkey")
        )
        with open(os.path.join(tmp, "nation_mixed.csv"), "w") as fh:
            fh.write("n_nationkey,n_name,n_regionkey\n")
            for i, row in enumerate(n.itertuples(index=False)):
                fh.write(f"{row.n_nationkey},{row.n_name},{row.n_regionkey}\n")
                # deterministic corruption cadence; bad lines keep the
                # 3-field arity (type errors only) so parallel-parser line
                # boundary detection cannot resplit them differently
                if i % 7 == 3:
                    fh.write("oops,BAD_LINE,not-a-number\n")
                if i % 11 == 5:
                    fh.write("xx,yy,zz\n")  # non-numeric key and region

    return os.path.join(staged("csv_bad", build, sf_dir), "nation_mixed.csv")


def _corrupt_csv_oracle() -> str:
    path = _try_stage(stage_mixed_csv, "csv_bad", "nation_mixed.csv")
    return f"""
    SELECT n_nationkey, n_name, n_regionkey
    FROM read_csv('{path}', header=true, ignore_errors=true,
                  columns={{'n_nationkey': 'BIGINT', 'n_name': 'VARCHAR',
                            'n_regionkey': 'BIGINT'}})
    ORDER BY n_nationkey
    """


@register("d01_csv_corrupt", oracle=_corrupt_csv_oracle)
def d01_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant ingestion: DROPMALFORMED-mode CSV read — malformed
    lines (wrong arity, unparseable ints) are dropped in the parser instead
    of failing the job, salvaging byte-for-byte what DuckDB's ignore_errors
    read keeps from the SAME staged file. For quarantine-instead-of-drop,
    PERMISSIVE mode + columnNameOfCorruptRecord routes bad lines to a side
    sink (Spark requires a persisted intermediate to query that column in
    isolation, so the oracle-checked form here uses the drop spelling)."""
    path = stage_mixed_csv(sf_dir)
    df = (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # the isNotNull filter pins a column into EVERY downstream plan: with an
    # empty projection (count-only) the CSV parser skips per-line validation
    # and DROPMALFORMED silently counts malformed lines too — measured 31
    # vs 25; referencing the key forces the parse so counts match rows
    return (
        df.where(F.col("n_nationkey").isNotNull())
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
    )


# --------------------------------------------------------------------------
# Plain-text source (spark.read.text) — the reference's native input shape
# --------------------------------------------------------------------------
def stage_doc_text(sf_dir: str) -> str:
    """Stage a bounded documents extract as TWO plain .txt files (one line
    per doc, newline-sanitized) — multi-file so the Spark read exercises
    file-parallel listing, deterministic content so both engines parse the
    same bytes. The reference ingests exactly this shape: newline-delimited
    raw text (``examples/trainer/networks/preprocess.py:52-53``)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = (
            pq.read_table(
                os.path.join(sf_dir, "documents.parquet"),
                columns=["doc_id", "text"],
                filters=pc.field("doc_id") < 120,
            )
            .to_pandas()
            .sort_values("doc_id")
        )
        _check_ceiling(len(t), "local text fixtures")
        half = len(t) // 2
        for i, chunk in enumerate((t.iloc[:half], t.iloc[half:])):
            lines = [
                ln.replace("\r", " ").replace("\n", " ").strip()
                for ln in chunk["text"].tolist()
            ]
            with open(os.path.join(tmp, f"part{i}.txt"), "w") as fh:
                fh.write("\n".join(lines) + "\n")

    return staged("txt", build, sf_dir)


def _text_oracle() -> str:
    path = _try_stage(stage_doc_text, "txt", "")
    return f"""
    WITH lines AS (
      SELECT unnest(string_split(rtrim(content, chr(10)), chr(10))) AS line
      FROM read_text('{path.rstrip("/")}/*.txt')
    )
    SELECT line, CAST(length(line) AS BIGINT) AS n_chars
    FROM lines WHERE length(line) > 0
    ORDER BY line
    """


@register("d01_text_source", oracle=_text_oracle)
def d01_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text connector (``spark.read.text``): the rawest input
    format — one string column per line, schema-free. Both engines read the
    SAME staged .txt files; line splitting, encoding and empty-line handling
    all checked byte-for-byte.

    Scale shape: text is splittable by newline at HDFS block boundaries —
    a 100 TB corpus of line-delimited text parallelizes across executors
    with no coordination; no inference pass, no parse beyond the line
    scanner. This is the entry point of every LLM dataprep run (raw crawl
    text -> d02 parse -> d31 quality -> d29 dedup)."""
    path = stage_doc_text(sf_dir)
    df = spark.read.text(path)
    return (
        df.where(F.length("value") > 0)
        .select(
            F.col("value").alias("line"),
            F.length("value").cast("long").alias("n_chars"),
        )
        .orderBy("line")
    )


# --------------------------------------------------------------------------
# binaryFile source — whole-file binary ingest (multimodal raw path)
# --------------------------------------------------------------------------
def stage_binary_files(sf_dir: str) -> str:
    """Stage a handful of deterministic .dat files (ASCII payloads derived
    from documents — DuckDB's BLOB->VARCHAR cast escapes non-ASCII bytes,
    so ASCII content keeps md5 comparable across engines while the Spark
    side still exercises the real binary path: content is a BinaryType
    column either way)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = (
            pq.read_table(
                os.path.join(sf_dir, "documents.parquet"),
                columns=["doc_id", "text", "source"],
                filters=pc.field("doc_id") < 24,
            )
            .to_pandas()
            .sort_values("doc_id")
        )
        for row in t.itertuples(index=False):
            payload = f"DOC {row.doc_id} SRC {row.source}\n{row.text}".encode(
                "ascii", "replace"
            )
            with open(os.path.join(tmp, f"doc_{row.doc_id:05d}.dat"), "wb") as fh:
                fh.write(payload)

    return staged("bin", build, sf_dir)


def _binary_oracle() -> str:
    # read_text, not read_blob: DuckDB's BLOB->VARCHAR cast escapes control
    # bytes (the payload's newline becomes literal \x0A), which would poison
    # the md5; read_text returns the raw bytes as VARCHAR unescaped, and the
    # ASCII staging guarantees char-length == byte-length.
    path = _try_stage(stage_binary_files, "bin", "")
    return f"""
    SELECT regexp_extract(filename, '([^/]+)[.]dat$', 1) AS fname,
           CAST(length(content) AS BIGINT) AS n_bytes,
           md5(content) AS content_md5
    FROM read_text('{path.rstrip("/")}/*.dat')
    ORDER BY fname
    """


@register("d01_binary_source", oracle=_binary_oracle)
def d01_binary_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary connector (``spark.read.format("binaryFile")``):
    path + length + raw bytes per file — the raw-ingest path for multimodal
    corpora (images/audio/video land as opaque payloads, D32 decodes).
    Checked end to end: glob filtering, file listing, length, and an md5
    over the binary content that must match DuckDB's read_blob of the SAME
    staged files.

    Scale shape: binaryFile is NOT splittable (whole file per task) — right
    for many-small-object multimodal ingest where the unit of work IS the
    file; Spark parallelizes across files via the file index. For 100 TB of
    small objects the file listing itself is the bottleneck -> point the
    reader at a manifest-partitioned layout (d01_partitioned_read) and let
    partition pruning bound the listing."""
    path = stage_binary_files(sf_dir)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.dat")
        .load(path)
    )
    return (
        df.select(
            F.regexp_extract(F.col("path"), r"([^/]+)[.]dat$", 1).alias("fname"),
            F.col("length").alias("n_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("fname")
    )


# --------------------------------------------------------------------------
# Bucketed tables — shuffle-free co-located joins (the pre-partitioning
# strategy that amortizes one shuffle across every downstream join)
# --------------------------------------------------------------------------
def stage_bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and customer BUCKETED by the join key (8 buckets,
    sorted within buckets) into the session warehouse as managed tables —
    Spark's bucketing metadata lives in the catalog, so this is
    ``saveAsTable``, not a path write. Idempotent per sf_dir via table
    existence. Returns the two table names."""
    import shutil

    base = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t_orders, t_cust = f"b_orders_{base}", f"b_customer_{base}"
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    for name, src, key in (
        (t_orders, "orders.parquet", "o_custkey"),
        (t_cust, "customer.parquet", "c_custkey"),
    ):
        if spark.catalog.tableExists(name):
            continue
        # a previous SESSION's managed-table directory may survive in the
        # warehouse while this session's in-memory catalog has no entry —
        # remove the orphan or saveAsTable fails LOCATION_ALREADY_EXISTS
        loc = os.path.join(warehouse, name)
        if os.path.exists(loc):
            shutil.rmtree(loc)
        (
            spark.read.parquet(os.path.join(sf_dir, src))
            .write.bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    return t_orders, t_cust


@register(
    "d03_bucketed_join",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey ORDER BY c_custkey
    """,
)
def d03_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE-FREE co-located join: both sides pre-bucketed by the join
    key (8 buckets, bucket-sorted), so the SortMergeJoin reads aligned
    buckets with NO Exchange on either input — the one-time bucketing
    shuffle is amortized across every subsequent join/aggregation on
    that key. The follow-up groupBy(c_custkey) ALSO reuses the bucket
    partitioning: the whole plan runs without a single hash exchange
    (plan-asserted in tests/test_plans.py).

    Scale shape: THE pattern for a 100 TB fact repeatedly joined on one
    key — bucket once at ingest (pick bucket count ~= target parallelism
    x small multiple; at 1000 executors think 4-8k buckets), then every
    downstream join/agg on that key is map-side. Broadcast beats it only
    when one side is dim-sized; AQE cannot remove a shuffle that the
    layout itself doesn't avoid."""
    t_orders, t_cust = stage_bucketed_tables(spark, sf_dir)
    o, c = spark.table(t_orders), spark.table(t_cust)
    # merge hint: at test SF the dim side is under the broadcast threshold
    # and the optimizer would pick BHJ, hiding the layout property under
    # test; the hint pins the plan every bucketed join runs at real scale
    return (
        c.hint("merge")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("c_custkey")
    )


@register(
    "d01_dynamic_pruning",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    WHERE substr(o_orderpriority, 1, 1) IN ('1', '2')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def d01_dynamic_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact is partitioned on
    o_orderpriority and the selective predicate lives on a DIM that joins
    on the partition key — no static filter touches the fact, yet the
    scan must read only the matching partition directories because the
    optimizer injects a runtime IN-subquery partition filter from the
    broadcast dim (plan-asserted ``dynamicpruningexpression``).

    Scale shape: THE mechanism that makes star-schema queries on a
    partitioned 100 TB fact read 2 of 5000 day-partitions when the date
    predicate arrives via the date dim rather than on the fact column;
    without DPP the same plan scans the full fact. Requires a
    partitioned layout (see stage_orders_partitioned) and a
    broadcast-able dim side."""
    path = stage_orders_partitioned(spark, sf_dir)
    fact = spark.read.parquet(path)
    dim = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select("o_orderpriority")
        .distinct()
        .where(F.substring("o_orderpriority", 1, 1).isin("1", "2"))
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Corrupt-tolerant JSON ingestion (the NDJSON twin of d01_csv_corrupt)
# --------------------------------------------------------------------------
def stage_mixed_json(sf_dir: str) -> str:
    """Stage an orders NDJSON extract with KNOWN syntactically-broken lines
    interleaved (truncated objects, bare garbage) — purely SYNTACTIC
    corruption on purpose: type-level salvage rules differ between
    engines (Spark nulls vs drop), but an unparseable line is dead in
    both, so the surviving row set is engine-independent."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        o = (
            pq.read_table(
                os.path.join(sf_dir, "orders.parquet"),
                columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
                filters=pc.field("o_orderkey") < 600,
            )
            .to_pandas()
            .sort_values("o_orderkey")
        )
        with open(os.path.join(tmp, "orders_mixed.json"), "w") as fh:
            for i, row in enumerate(o.itertuples(index=False)):
                fh.write(
                    '{"o_orderkey": %d, "o_orderstatus": "%s", '
                    '"o_totalprice": %.2f}\n'
                    % (row.o_orderkey, row.o_orderstatus, row.o_totalprice)
                )
                if i % 5 == 2:
                    fh.write('{"o_orderkey": 999999, "o_orderst\n')
                if i % 13 == 7:
                    fh.write("not json at all\n")

    return os.path.join(staged("json_bad", build, sf_dir), "orders_mixed.json")


def _corrupt_json_oracle() -> str:
    path = _try_stage(stage_mixed_json, "json_bad", "orders_mixed.json")
    return f"""
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 4) AS price
    FROM read_json('{path}', format='newline_delimited',
                   ignore_errors=true,
                   columns={{'o_orderkey': 'BIGINT',
                             'o_orderstatus': 'VARCHAR',
                             'o_totalprice': 'DOUBLE'}})
    WHERE o_orderkey IS NOT NULL
    ORDER BY o_orderkey
    """


@register("d01_json_corrupt", oracle=_corrupt_json_oracle)
def d01_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant NDJSON ingestion: DROPMALFORMED mode drops
    syntactically-broken lines in the parser instead of failing the job —
    the JSON twin of d01_csv_corrupt, against DuckDB's ignore_errors read
    of the SAME staged file. At 100 TB this is the difference between an
    ingest that survives one bad crawl record and one that dies at hour
    nine; quarantine-instead-of-drop uses PERMISSIVE +
    columnNameOfCorruptRecord routed to a side sink."""
    path = stage_mixed_json(sf_dir)
    df = (
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double"
        )
        .option("mode", "DROPMALFORMED")
        .json(path)
    )
    return (
        df.where(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 4).alias("price"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# nested-schema parquet source (round 6) — NESTED COLUMN PRUNING: the scan
# must read only the referenced struct SUBFIELDS (spark.sql.optimizer
# .nestedSchemaPruning.enabled, on by default in Spark 4)
# --------------------------------------------------------------------------
def stage_nested_orders(sf_dir: str) -> str:
    """Stage a bounded orders extract as ONE parquet file with NESTED
    struct columns (customer{o_custkey,o_orderstatus},
    pricing{o_totalprice,o_orderpriority,o_comment}) via pyarrow; pyarrow
    filter pushdown bounds the read."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        t = pq.read_table(
            os.path.join(sf_dir, "orders.parquet"),
            columns=[
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderpriority",
                "o_orderdate",
            ],
            filters=pc.field("o_orderkey") < 2000,
        ).sort_by("o_orderkey")
        _check_ceiling(len(t), "a single local parquet")
        customer = pa.StructArray.from_arrays(
            [t["o_custkey"].combine_chunks(), t["o_orderstatus"].combine_chunks()],
            names=["o_custkey", "o_orderstatus"],
        )
        pricing = pa.StructArray.from_arrays(
            [
                t["o_totalprice"].combine_chunks(),
                t["o_orderpriority"].combine_chunks(),
                t["o_orderdate"].combine_chunks(),
            ],
            names=["o_totalprice", "o_orderpriority", "o_orderdate"],
        )
        nested = pa.table(
            {
                "o_orderkey": t["o_orderkey"],
                "customer": customer,
                "pricing": pricing,
            }
        )
        pq.write_table(nested, os.path.join(tmp, "orders_nested.parquet"))

    return os.path.join(staged("nested", build, sf_dir), "orders_nested.parquet")


def _nested_oracle() -> str:
    path = stage_nested_orders(oracle_sf_dir())
    return f"""
    SELECT o_orderkey,
           customer.o_custkey AS custkey,
           ROUND(pricing.o_totalprice, 4) AS totalprice
    FROM '{path}'
    WHERE customer.o_orderstatus = 'O'
    ORDER BY o_orderkey
    """


@register("d01_nested_pruning", oracle=_nested_oracle)
def d01_nested_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-schema parquet scan with SUBFIELD pruning and a pushed
    nested-field predicate: the query touches 2 of 5 struct subfields
    plus a filter on a third, and the scan's ReadSchema must contain
    exactly those subfields — pricing.o_orderpriority and
    pricing.o_orderdate never leave the file. Both engines read the SAME staged nested file, so
    struct decoding and field access are on the hash.

    Scale shape: event/log tables at 100 TB are overwhelmingly nested
    (request{...}, context{...}, payload{...}); subfield pruning is the
    difference between scanning 3% of the file and 100% of it. The plan
    test pins the pruned ReadSchema so a regression (e.g. a UDF forcing
    full-struct materialization) fails loudly."""
    path = stage_nested_orders(sf_dir)
    df = spark.read.parquet(path)
    return (
        df.where(F.col("customer.o_orderstatus") == "O")
        .select(
            "o_orderkey",
            F.col("customer.o_custkey").alias("custkey"),
            F.round("pricing.o_totalprice", 4).alias("totalprice"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "d01_bucket_pruning",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders,
           ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 4) AS revenue,
           MIN(o_orderkey) AS first_key
    FROM orders WHERE o_custkey IN (371, 372, 373)
    GROUP BY o_custkey ORDER BY o_custkey
    """,
)
def d01_bucket_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUCKET pruning: key-equality predicates on the bucketing key of a
    bucketed table prune the scan to only the buckets those keys hash to
    (`SelectedBucketsCount` in the plan, asserted in tests/test_plans.py)
    AND the follow-up per-key aggregate reuses the bucket partitioning
    with no exchange. The aggregate on the bucket key is load-bearing:
    with nothing in the plan consuming the partitioning, the planner
    auto-disables the bucketed scan (autoBucketedScan) and pruning with
    it. The oracle runs the same filter+aggregate over plain parquet,
    certifying pruning changes I/O, never results.

    Scale shape (100 TB): a key lookup on a 4k-bucket fact touches
    1/4000th of the files before row-group zone maps even apply —
    bucketing gives hash-partition pruning, d35_minmax_file_skip-style
    stats give range pruning within it; a production table wants both."""
    t_orders, _ = stage_bucketed_tables(spark, sf_dir)
    return (
        spark.table(t_orders)
        .where(F.col("o_custkey").isin(371, 372, 373))
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(12,2)")), 4
            ).alias("revenue"),
            F.min("o_orderkey").alias("first_key"),
        )
        .orderBy("o_custkey")
    )
