"""r12: graph_assortativity folds the post-threshold edge moments
in-process under a capped guard. Pin the driver path against the
distributed fallback (forced) — byte-identical rows."""
from etl_framework_spark.plans import assert_in_plan
from etl_framework_spark.queries import rater_tailindex as RT
from tests.conftest import SF_SMALL


def test_driver_and_distributed_assortativity_agree(spark, force_fallback):
    fast_df = RT.graph_assortativity(spark, SF_SMALL)
    assert_in_plan(fast_df, absent=("ExistingRDD",))
    fast = [tuple(r) for r in fast_df.collect()]
    with force_fallback():
        slow = [tuple(r) for r in RT.graph_assortativity(spark, SF_SMALL).collect()]
    assert fast == slow
    assert len(fast) == 1 and fast[0][0] > 0
