"""Output checks, run outside every timed interval.

Oracle-backed queries are compared with their DuckDB oracle; oracle-less
queries with a row count and result hash stored in ``expected.json``. Cells
are normalized type-strictly with the repository's own oracle comparator
(``tests/oracle_utils.py``), recursing into arrays, maps and structs.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

from tests.oracle_utils import _norm_cell

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon(v):
    if isinstance(v, dict):
        return tuple(sorted((repr(_canon(k)), _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("bytes", hashlib.sha256(bytes(v)).hexdigest())
    return _norm_cell(v)


def canonical_rows(pdf) -> list[tuple]:
    """Order-insensitive, type-strict form of a pandas result."""
    cols = sorted(pdf.columns)
    return sorted((tuple(_canon(v) for v in row)
                   for row in pdf[cols].itertuples(index=False)), key=repr)


def result_hash(pdf) -> str:
    h = hashlib.sha256(repr([c.lower() for c in sorted(pdf.columns)]).encode())
    for row in canonical_rows(pdf):
        h.update(repr(row).encode())
    return h.hexdigest()


def oracle_mismatch(spark_pdf, oracle_pdf) -> str | None:
    """Why a Spark result differs from its oracle, or None if it matches."""
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != oracle {len(oracle_pdf)}"
    s_cols = [c.lower() for c in spark_pdf.columns]
    o_cols = [c.lower() for c in oracle_pdf.columns]
    if s_cols != o_cols:
        return f"columns {s_cols} != oracle {o_cols}"
    if canonical_rows(spark_pdf) != canonical_rows(oracle_pdf):
        return "values differ from oracle"
    return None


def load_expected() -> dict[str, dict]:
    try:
        with open(EXPECTED_PATH) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def save_expected(expected: dict[str, dict]) -> None:
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")
