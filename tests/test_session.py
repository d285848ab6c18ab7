"""Session defaults that hold across queries: the codegen cache keeps every
class a recurring workload generates, so a warm pass compiles nothing."""

import os
import sys

from conceptnetwork_spark import registry
from tests.conftest import SF_SMOKE

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
from stages import codegen_compiles  # noqa: E402

# Relational queries whose compile count settles after the first warm round
# at sf0.001: together about 230 generated classes, more than Spark's default
# cache of 100 holds. (d27_kaplan_meier is left out: an AQE re-plan variant
# compiled 4 new classes in some warm rounds.)
SETTLING = (
    "d11_quantile_sketch_merge", "d27_multi_touch", "d14_autocorr",
    "d27_user_lifecycle", "d14_running_distinct", "d27_rfm_segmentation",
    "d14_cusum", "d14_mad_outliers", "d10_ks_drift", "d11_countmin",
    "d04_star_join", "d14_theil_sen",
)
MAX_ROUNDS = 4


def test_codegen_cache_is_sized_for_the_workload(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"


def test_warm_round_compiles_nothing(spark):
    qs = registry.queries()

    def one_round() -> int:
        before = codegen_compiles(spark)[0]
        for name in SETTLING:
            qs[name](spark, SF_SMOKE)._jdf.queryExecution().toRdd().count()
        return codegen_compiles(spark)[0] - before

    rounds = [one_round()]
    while rounds[-1] and len(rounds) < MAX_ROUNDS:
        rounds.append(one_round())
    rounds.append(one_round())
    assert rounds[-1] == 0, f"codegen compiles per round: {rounds}"
