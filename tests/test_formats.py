"""CSV/JSON staging-helper guards (sources/formats.py).

The staging helpers exist ONLY to produce bounded single-file oracle
fixtures; the row ceiling makes pointing them at a fact table an error
instead of a silent driver-side bottleneck.
"""

import os

import pytest

from conceptnetwork_spark.sources import formats, staging
from tests.conftest import SF_ORACLE


def test_stage_ceiling_rejects_fact_table(monkeypatch, tmp_path):
    monkeypatch.setattr(formats, "_STAGE_ROW_CEILING", 5)
    monkeypatch.setattr(
        staging, "stage_path", lambda name, sf_dir=None: str(tmp_path / name)
    )
    with pytest.raises(ValueError, match="refusing to stage"):
        formats.stage_nation_csv(SF_ORACLE)  # 25 rows > patched ceiling 5
    with pytest.raises(ValueError, match="refusing to stage"):
        formats.stage_orders_json(SF_ORACLE)


def test_oracle_resolution_stages_fixture_lazily():
    # resolving the oracle SQL (NOT importing the module) stages the file
    # and embeds its path — no import-time /tmp side effects
    sql = formats._csv_oracle()
    path = formats.stage_nation_csv(staging.oracle_sf_dir())
    assert path in sql and os.path.exists(path)
    sql_j = formats._json_oracle()
    path_j = formats.stage_orders_json(staging.oracle_sf_dir())
    assert path_j in sql_j and os.path.exists(path_j)


def test_oracle_sf_dir_single_source_of_truth(monkeypatch, tmp_path):
    # a test that overrides only SPARK_GRAFT_TEST_SF must steer the oracle
    # staging too (the r3 divergence: oracle keyed off its own env var)
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF_DIR", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_TEST_SF", str(tmp_path))
    assert staging.oracle_sf_dir() == str(tmp_path)
    monkeypatch.setenv("SPARK_GRAFT_ORACLE_SF_DIR", "/elsewhere")
    assert staging.oracle_sf_dir() == "/elsewhere"


def test_staging_is_idempotent_and_spark_free():
    p1 = formats.stage_nation_csv(SF_ORACLE)
    p2 = formats.stage_nation_csv(SF_ORACLE)
    assert p1 == p2
    assert p1 in formats._csv_oracle()


def test_python_datasink_abort_leaves_nothing_committed(spark, tmp_path):
    """Two-phase commit, failure leg: when a task fails mid-job the sink's
    abort() must remove every temp file and commit nothing — no partial
    visibility, the invariant the whole protocol exists for."""
    import glob

    import pytest as _pytest
    from pyspark.sql import functions as F

    from conceptnetwork_spark.sources.pydatasource import _make_jsonl_sink

    key = "_cn_jsonlsink_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(_make_jsonl_sink())
        setattr(spark, key, True)

    outdir = str(tmp_path / "sink_abort")
    (tmp_path / "sink_abort").mkdir()

    @F.udf("long")
    def boom(v):
        if v == 7:
            raise RuntimeError("injected task failure")
        return v

    df = spark.range(0, 16, 1, 4).select(boom(F.col("id")).alias("id"))
    with _pytest.raises(Exception):
        df.write.format("jsonlsink").option("path", outdir).mode(
            "append"
        ).save()
    assert glob.glob(outdir + "/*.jsonl") == []  # nothing published
    assert glob.glob(outdir + "/*.tmp") == []  # aborted temps removed
