"""`catalog.local_table`, the one way the package builds a DataFrame
from driver-side rows: the same schema and rows as the list form of
``spark.createDataFrame``, planned as a JVM LocalRelation."""

from __future__ import annotations

import datetime
import inspect
import os

from pyspark.sql import Row

from iot_temp_data_pipeline_spark.sources.catalog import local_table

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PACKAGE = os.path.join(_ROOT, "iot_temp_data_pipeline_spark")

DDL = "s string, d double, l bigint, b boolean, a array<bigint>, dt date"
ROWS = [
    ("it's", 0.1 + 0.2, 2**62, True, [1, None, 3], datetime.date(2018, 12, 8)),
    ("café", 1e300, -(2**62), False, [], datetime.date(1970, 1, 1)),
    ("", -0.0, 0, True, [None], datetime.date(2024, 2, 29)),
    ("x", float("nan"), 7, False, [2**62], None),
    (None, None, None, None, None, None),
]


def _same(new, old) -> None:
    """Schema and rows identical, with NaN equal to NaN and -0.0 apart
    from 0.0 (``repr`` keeps both distinctions; ``==`` keeps neither)."""
    assert new.schema == old.schema
    assert [repr(r) for r in new.collect()] == [repr(r) for r in old.collect()]


def test_local_table_matches_the_list_form(spark):
    _same(local_table(spark, ROWS, DDL), spark.createDataFrame(ROWS, DDL))


def test_local_table_takes_collected_rows(spark):
    """``Row``s from ``collect()`` with their StructType, non-nullable
    fields included, as the anomaly digest passes them."""
    src = spark.createDataFrame(ROWS, DDL).selectExpr("*", "42L AS k")
    rows = src.collect()
    assert isinstance(rows[0], Row) and not src.schema["k"].nullable
    _same(local_table(spark, rows, src.schema), spark.createDataFrame(rows, src.schema))


def test_local_table_zero_rows(spark):
    _same(local_table(spark, [], DDL), spark.createDataFrame([], DDL))


def test_local_table_is_a_local_relation(spark):
    """The frame plans as a LocalRelation, and collecting it starts no
    Spark job; the list form's plan reads a Python RDD instead."""
    df = local_table(spark, ROWS, DDL)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    sc = spark.sparkContext
    group = "local-table-no-jobs"
    sc.setJobGroup(group, "collect a local_table frame")
    try:
        assert len(df.collect()) == len(ROWS)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    old = spark.createDataFrame(ROWS, DDL)
    assert "ExistingRDD" in old._jdf.queryExecution().executedPlan().toString()


def test_create_dataframe_only_in_local_table():
    """Every driver-built table goes through `local_table`: the list form
    of ``createDataFrame`` would put a Python RDD under the plan."""
    body = inspect.getsource(local_table)
    offenders = []
    for root, _dirs, files in os.walk(_PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                n = fh.read().count("createDataFrame(")
            if path.endswith(os.path.join("sources", "catalog.py")):
                n -= body.count("createDataFrame(")
            if n:
                offenders.append(os.path.relpath(path, _ROOT))
    assert offenders == []
    assert body.count("createDataFrame(") == 1
