"""Table catalog over the driver testdata layout.

One parquet file per table under an ``sf_dir`` (TESTDATA.md). The catalog is
the engine's source layer (SURVEY §2.1 S3/S4): globbing, parallel reads,
schema projection, predicate pushdown all come from the Parquet datasource —
the reference hand-rolled these with TF queue runners
(``conceptnetwork/network.py:184-203``).

Every builder opens its tables through ``catalog(spark, sf_dir)``, the one
``Catalog`` of that session and sf dir. It lives on the session object, so it
dies with the session: a restarted session or ``spark.newSession()`` gets its
own and never sees another session's DataFrame. Each table is read once and
read again only when its file's ``(st_mtime_ns, st_size, st_ino)`` changes,
so a file rewritten in place is never served from a stale scan. Indexes
built from a table (the ANN codebooks and cells) are kept under the same
rule. DataFrames stay lazy: the memo holds scans, never results.
``Catalog(spark, sf_dir)`` itself stays a fresh, unmemoized opener.

Dimension tables are flagged so the operator layer can attach explicit
broadcast hints for the 100 TB design point (facts never broadcast).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Bounded-cardinality tables: safe to broadcast at any scale factor.
# customer/part/supplier grow with SF -> treated as shuffle-side at scale.
DIM_TABLES = frozenset({"region", "nation"})

# Event-time columns needing normalization to TIMESTAMP (LTZ):
# - parquet TIMESTAMP(NANOS): Spark reads as long (session.py nanosAsLong);
#   integer `div` avoids double-precision loss at ns-epoch magnitude
#   (~1.7e18 > 2^53); DuckDB truncates ns->us the same way.
# - parquet timestamp[us] with isAdjustedToUTC=false: Spark reads as
#   TIMESTAMP_NTZ, which withWatermark rejects
#   (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session TZ is pinned UTC
#   (session.py), so casting NTZ->LTZ reinterprets the same wall-clock
#   instant and batch/oracle semantics are unchanged.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def fix_nanos(df: DataFrame, name: str) -> DataFrame:
    for c in NANOS_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer partitions than
    the cluster has cores — i.e. only when downstream CPU-heavy work (shingle
    hashing, pandas UDFs, brute-force distance) would otherwise run on a
    handful of tasks.

    At 100 TB a parquet scan already produces thousands of splits and this is
    a no-op; the guard means we never pay a full-data shuffle at scale. It
    only fires on locally-tiny inputs (the driver testdata is a single
    row group per table, so every scan is one task without it).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    n = _approx_scan_partitions(df)
    if n < target:
        return df.repartition(target)
    return df


def _approx_scan_partitions(df: DataFrame) -> int:
    """Estimate how many tasks the scan under ``df`` will get, public APIs
    only (no ``_jdf`` — survives Spark Connect). Every caller is a
    single-scan derivation, so ``inputFiles()`` + file sizes against
    maxPartitionBytes mirrors Spark's FilePartition packing closely enough
    for the only decision made here: "is this scan tiny relative to the
    core count". Non-local filesystems (can't stat cheaply from Python)
    fall back to ``df.rdd.getNumPartitions()`` — one analyzer round-trip,
    acceptable off the common path."""
    from urllib.parse import urlparse

    files = df.inputFiles()
    if files:
        try:
            total = sum(os.path.getsize(urlparse(f).path or f) for f in files)
        except OSError:
            return df.rdd.getNumPartitions()
        conf = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )
        return max(len(files), -(-total // max(_parse_bytes(conf), 1)))
    return df.rdd.getNumPartitions()


def _parse_bytes(conf: str) -> int:
    """Spark byte-size conf string ('134217728b', '128m', '1g') -> bytes."""
    s = conf.strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num = s.rstrip("".join(units))
    mult = units.get(s[len(num):].rstrip("b") or "b", 1)
    return int(float(num or "0") * mult)


def _file_key(path: str) -> tuple[int, int, int] | None:
    """The file's ``(st_mtime_ns, st_size, st_ino)``, or None when it
    cannot be stat'ed locally (the read then reports the error)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


class Catalog:
    """Lazy loader + temp-view registrar for one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        # name -> (file key, raw scan, table); an index name -> (key, index)
        self._tables: dict[str, tuple] = {}
        self._indexes: dict[str, tuple] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        key = _file_key(self.path(name))
        hit = self._tables.get(name)
        if hit is None or hit[0] != key or key is None:
            raw = self.spark.read.parquet(self.path(name))
            hit = self._tables[name] = (key, raw, fix_nanos(raw, name))
        return hit[2]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def stream(self, name: str) -> DataFrame:
        """readStream over the table's file, with the batch table's
        timestamp conversion, so both sides agree."""
        self.table(name)
        schema = self._tables[name][1].schema
        # glob suffix: the streaming file source requires a directory/glob,
        # and the testdata lays each table out as a single parquet file
        return fix_nanos(
            self.spark.readStream.schema(schema).parquet(self.path(name) + "*"),
            name,
        )

    def index(self, name: str, table: str, build) -> tuple:
        """``build(self.table(table))``, kept until ``table``'s file changes.
        The replaced index's persisted DataFrames are unpersisted."""
        df = self.table(table)
        key = self._tables[table][0]
        hit = self._indexes.get(name)
        if hit is not None and hit[0] == key and key is not None:
            return hit[1]
        if hit is not None:
            for part in hit[1]:
                if isinstance(part, DataFrame):
                    part.unpersist()
        value = build(df)
        self._indexes[name] = (key, value)
        return value

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register each table as a temp view for ``spark.sql`` queries."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)


def catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    """The one ``Catalog`` of ``spark`` for ``sf_dir``, kept on the session."""
    cats = spark.__dict__.setdefault("_cn_catalogs", {})
    cat = cats.get(sf_dir)
    if cat is None:
        cat = cats[sf_dir] = Catalog(spark, sf_dir)
    return cat
