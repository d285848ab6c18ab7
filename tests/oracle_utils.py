"""Spark-vs-DuckDB comparison mirroring the driver's correctness gate:
row-count + schema-width + order-insensitive value comparison."""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import numpy as np

from conceptnetwork_spark.catalog import TABLES


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``sf_dir``, the
    tables every oracle's SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm_cell(v):
    """Type-STRICT normalization mirroring the driver's stringified hash:
    an int-valued float (DuckDB HUGEINT/DOUBLE -> pandas float64) must NOT
    compare equal to a Spark LONG — the driver hashes "3153.0" != "3153".
    Each numeric family carries a type tag so a type-level oracle bug can
    never pass pytest yet fail the driver hash."""
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ("f", "NaN")
        # cells are pre-rounded by the queries; absorb fp dust, but stay
        # SIGN-OF-ZERO STRICT: the driver's stringified hash distinguishes
        # "-0.0" from "0.0" (the r11 d14_rolling_corr red) — a query that
        # can emit a tiny-negative rounded value must normalize with + 0.0
        # in BOTH engines, not rely on the comparator hiding it
        f = round(float(v), 6)
        if f == 0.0 and math.copysign(1.0, f) < 0:
            return ("f", "-0.0")
        return ("f", f)
    if isinstance(v, Decimal):
        f = round(float(v), 6)
        if f == 0.0 and math.copysign(1.0, f) < 0:
            return ("f", "-0.0")
        return ("f", f)
    return v


def assert_oracle_match(spark_df, ddb, sql: str, name: str = "?"):
    assert_frames_match(spark_df.toPandas(), ddb.execute(sql).fetchdf(), name)


def assert_frames_match(sdf, odf, name: str = "?"):
    """The comparison of ``assert_oracle_match`` on collected frames."""
    assert len(sdf) == len(odf), f"{name}: rowcount {len(sdf)} != oracle {len(odf)}"
    assert len(sdf.columns) == len(odf.columns), (
        f"{name}: width {list(sdf.columns)} != {list(odf.columns)}"
    )
    assert [c.lower() for c in sdf.columns] == [c.lower() for c in odf.columns], (
        f"{name}: column names {list(sdf.columns)} != {list(odf.columns)}"
    )
    cols = sorted(sdf.columns)
    s_rows = sorted(
        [tuple(_norm_cell(v) for v in row) for row in sdf[cols].itertuples(index=False)],
        key=repr,
    )
    o_rows = sorted(
        [tuple(_norm_cell(v) for v in row) for row in odf[cols].itertuples(index=False)],
        key=repr,
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches, first: {mismatches[:3]}"
