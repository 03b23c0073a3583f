from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from iot_temp_data_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # SPARK_GRAFT_ANSI=true runs the whole suite under an ANSI-on session —
    # the driver owns the session config, so every query must be
    # session-independent (VERDICT r01 item 1/9).
    extra = {}
    if os.environ.get("SPARK_GRAFT_ANSI", "").lower() in ("1", "true"):
        extra["spark.sql.ansi.enabled"] = "true"
    if os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        extra["spark.sql.shuffle.partitions"] = os.environ[
            "SPARK_GRAFT_SHUFFLE_PARTITIONS"
        ]
    spark = get_spark(app_name="tests", shuffle_partitions=8, extra_conf=extra)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def written_mart(spark, sf_dir, tmp_path_factory):
    """The registry's in-memory mart and the path ``write_mart`` wrote it
    to — the published layout the summaries read."""
    from iot_temp_data_pipeline_spark.operators.marts import write_mart
    from iot_temp_data_pipeline_spark.plans.registry import _mart_df_compute

    mart = _mart_df_compute(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("mart") / "mart")
    write_mart(mart, path)
    return mart, path
