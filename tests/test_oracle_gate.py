"""The local oracle gate must be as strict as the driver's stringified
value hash: an int-valued float (DuckDB HUGEINT/DOUBLE -> pandas float64)
hashing as "3153.0" must NOT pass against a Spark LONG hashing as "3153".
This is the exact gap that let d34_dataprep_summary ship locally green and
driver-red in round 3."""

import numpy as np

from tests.oracle_utils import _norm_cell


def test_int_float_not_equal():
    assert _norm_cell(3153) != _norm_cell(3153.0)
    assert _norm_cell(np.int64(3153)) != _norm_cell(np.float64(3153.0))


def test_same_family_still_equal():
    assert _norm_cell(np.int64(7)) == _norm_cell(7)
    assert _norm_cell(np.float64(1.5)) == _norm_cell(1.5)
    # fp dust within the 6-place round still collapses
    assert _norm_cell(0.1 + 0.2) == _norm_cell(0.3)


def test_negative_zero_is_sign_strict():
    """The driver's stringified hash sees "-0.0" != "0.0" — round 11's
    only red (d14_rolling_corr: DuckDB ROUND(tiny_negative, 4) keeps the
    sign, Spark's BigDecimal round cannot). The comparator must expose
    the divergence, and + 0.0 must be the normalization that closes it."""
    assert _norm_cell(-0.0) != _norm_cell(0.0)
    assert _norm_cell(np.float64(-0.0)) != _norm_cell(np.float64(0.0))
    # dust that ROUNDS to signed zero is also sign-strict
    assert _norm_cell(-1e-9) != _norm_cell(1e-9)
    # the in-query fix: IEEE guarantees -0.0 + 0.0 == +0.0
    assert _norm_cell(-0.0 + 0.0) == _norm_cell(0.0)


def test_negative_zero_fixture_hash_matches_after_normalization(spark, ddb):
    """End-to-end pin of the r11 fix: a fixture engineered so DuckDB's
    ROUND emits -0.0 hash-matches the Spark side once BOTH projections
    append + 0.0 (the d14_rolling_corr / d20 / d33 normalization)."""
    import duckdb  # noqa: F401  (ddb fixture provides the connection)
    from pyspark.sql import functions as F

    from tests.oracle_utils import assert_oracle_match

    sdf = spark.range(1).select(
        (F.round(F.lit(-1e-9), 4) + F.lit(0.0)).alias("v")
    )
    # sanity: WITHOUT normalization DuckDB really emits -0.0 here
    raw = ddb.execute("SELECT ROUND(-1e-9, 4) AS v").fetchdf()["v"][0]
    import math

    assert raw == 0.0 and math.copysign(1.0, raw) < 0
    assert_oracle_match(
        sdf, ddb, "SELECT ROUND(-1e-9, 4) + 0.0 AS v", "negzero_fixture"
    )


def test_bool_is_not_int():
    assert _norm_cell(True) != _norm_cell(1)
    assert _norm_cell(np.bool_(False)) == _norm_cell(False)


def test_nan_matches_nan():
    assert _norm_cell(float("nan")) == _norm_cell(np.float64("nan"))


def test_sax_zero_variance_word_is_null_both_engines(spark, ddb):
    """Pin of the r12 review finding: array_join silently DROPS null
    elements, so an all-null sym series yields '' in Spark while DuckDB's
    string_agg over all-NULL returns NULL — the registered d14_sax gates
    the word on sd > 0 so both engines emit NULL for a zero-variance
    series. This drives the exact expression pair over an engineered
    zero-variance group."""
    from pyspark.sql import functions as F

    sym = spark.createDataFrame(
        [(1, 0, None, 0.0), (1, 1, None, 0.0), (2, 0, "a", 1.0), (2, 1, "b", 1.0)],
        "k int, seg int, sym string, sd double",
    )
    out = (
        sym.groupBy("k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "sym"))),
                    lambda t: t["sym"],
                ),
                "",
            ).alias("w_raw"),
            F.first("sd").alias("sd"),
        )
        .select("k", F.when(F.col("sd") > 0, F.col("w_raw")).alias("w"))
        .orderBy("k")
        .collect()
    )
    # ungated array_join WOULD have produced '' for k=1; the gate makes it NULL
    assert out[0]["w"] is None and out[1]["w"] == "ab"
    got = ddb.execute(
        "SELECT k, string_agg(sym, '' ORDER BY seg) AS w FROM (VALUES "
        "(1, 0, NULL), (1, 1, NULL), (2, 0, 'a'), (2, 1, 'b')"
        ") t(k, seg, sym) GROUP BY k ORDER BY k"
    ).fetchall()
    assert got[0][1] is None and got[1][1] == "ab"


def test_signed_rounded_outputs_keep_negzero_normalization():
    """Regression guard for the r12 review sweep: every oracle whose
    rounded double output can be tiny-negative (the cosine/inner-product/
    corr family) must keep the '+ 0.0' normalization in its SQL — the
    empirical -0.0 check of tools/parity.py only flags values the fixture
    data happens to produce, so the class guard lives here."""
    from conceptnetwork_spark import registry

    oracles = registry.oracles()
    for name in (
        "d30_knn_exact",
        "d30_filtered_knn",
        "d30_mips_topk",
        "d30_matryoshka_knn",
        "d30_maxsim",
        "d30_binary_quantize",
        "d14_rolling_corr",
        "d29_link_prediction",
    ):
        assert "+ 0.0" in oracles[name], name
