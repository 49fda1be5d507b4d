"""scripts/plan_audit.py classifies the build side of every
broadcast nested-loop join from the CURRENT physical plan: before
execution that is AQE's initial plan, after it the final plan made of
query stages (and reused exchanges). Either way a whitelisted query's
build side must get the same class."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import plan_audit  # noqa: E402


#: whitelisted BNLJ queries and the build-side classes they must get
BUILD_CLASSES = {
    # 1-row avg balance threshold broadcast
    "customers_no_orders": ["scalar_agg"],
    # after execution one build side is a reused broadcast exchange
    "source_token_drift": ["scalar_agg"] * 3,
    # 1-row corpus total, then the 3-row k-list: createDataFrame(list)
    # plans an RDD scan over a driver-parallelized collection
    "token_coverage_curve": ["scalar_agg", "local_table"],
}


@pytest.mark.parametrize("name", sorted(BUILD_CLASSES))
def test_bnlj_build_class_same_before_and_after_execution(spark, sf_dir, name):
    from kaggle_ecommerce_etl_spark.queries import REGISTRY

    classes = BUILD_CLASSES[name]
    assert name in plan_audit.BNLJ_OK
    df = REGISTRY[name][0](spark, sf_dir)
    assert plan_audit._bnlj_build_classes(df) == classes
    df.collect()
    # after execution the walk reads the final plan through its stages
    walked = plan_audit._walk(df._jdf.queryExecution().executedPlan())
    assert "AQEShuffleRead" in {n.nodeName() for n in walked}
    assert plan_audit._bnlj_build_classes(df) == classes


def test_rdd_scan_is_driver_literal_only_over_a_parallelized_collection(spark):
    """A createDataFrame(list) scan is a driver literal; an RDD scan
    over a localCheckpoint is not, though both plan as Scan ExistingRDD."""

    def leaf(df):
        plan = df._jdf.queryExecution().executedPlan()
        return next(n for n in plan_audit._walk(plan) if n.children().size() == 0)

    literal = leaf(spark.createDataFrame([(10,), (100,)], "k int"))
    checkpointed = leaf(spark.range(3).localCheckpoint())
    assert literal.nodeName() == checkpointed.nodeName() == "Scan ExistingRDD"
    assert plan_audit._is_driver_literal(literal)
    assert not plan_audit._is_driver_literal(checkpointed)
