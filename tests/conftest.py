from __future__ import annotations

import pytest

from pylluminator_spark.session import get_spark

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pylluminator_spark_tests", shuffle_partitions=8)
    yield s


def executed_plan(spark, df):
    """``df``'s executed plan with AQE off, so the plan is final."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        return df._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, prev)


def codegen_size(spark, df) -> tuple[int, int]:
    """``(characters, bytes)``: the length of ``df``'s generated Java with
    AQE off, and the bytecode size of its largest generated method (0 when
    the plan has no codegen subtree). HotSpot never JIT-compiles a method
    over 8,000 bytes (``HugeMethodLimit``)."""
    plan = executed_plan(spark, df)
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    subtrees = debug.codegenStringSeq(plan).iterator()
    largest = 0
    while subtrees.hasNext():
        largest = max(largest, subtrees.next()._3().maxMethodCodeSize())
    return len(debug.codegenString(plan)), largest
