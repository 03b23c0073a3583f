"""S11 retention rewrite + S12 ANALYZE stats refresh
(`airflow/dags/iot_temperature_dag.py:249-305`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iot_temp_data_pipeline_spark.maintenance import (
    apply_retention,
    materialize_and_analyze,
)


def test_apply_retention(spark):
    df = spark.range(10).select(
        F.col("id"),
        F.when(F.col("id") < 5, F.date_sub(F.current_date(), 200))
        .otherwise(F.current_date())
        .cast("timestamp")
        .alias("ingestion_timestamp"),
    )
    kept = apply_retention(df, days=90)
    assert kept.count() == 5
    assert kept.agg(F.min("id")).collect()[0][0] == 5


def test_materialize_and_analyze(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    stats = materialize_and_analyze(spark, df, "region_analyzed")
    # ANALYZE recorded table-level statistics in the catalog
    assert any("Statistics" in k for k in stats)
    spark.sql("DROP TABLE IF EXISTS region_analyzed")


def test_zorder_key_rejects_long_overflow():
    # bits * n_cols > 63 would overflow the signed-long key (and Java
    # masks shifts >= 64), silently corrupting box assignment
    import pytest
    from pyspark.sql import functions as F

    from iot_temp_data_pipeline_spark.maintenance import zorder_key

    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key([F.col(f"c{i}") for i in range(8)], bits=8)


def test_cluster_zorder_autoreduces_bits(spark, tmp_path):
    # 8 columns at default bits=8 would overflow; cluster_zorder must
    # degrade quantization (layout-only) instead of corrupting boxes
    from pyspark.sql import functions as F

    from iot_temp_data_pipeline_spark.maintenance import cluster_zorder

    df = spark.range(256).select(
        "id", *[(F.col("id") * (i + 3) % 251).alias(f"c{i}") for i in range(8)]
    )
    out = str(tmp_path / "z8")
    cluster_zorder(spark, df, out, [f"c{i}" for i in range(8)], n_files=4)
    assert spark.read.parquet(out).count() == 256


def test_table_exists_and_ensure_table(spark):
    # the table_exists macro analog (dbt_transform/macros/table_exists.sql)
    from pyspark.sql import functions as F

    from iot_temp_data_pipeline_spark.sources.catalog import (
        ensure_table,
        table_exists,
    )

    spark.sql("DROP TABLE IF EXISTS probe_exists_t")
    assert table_exists(spark, "probe_exists_t") is False
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(F.col("id").alias("k"))

    df1 = ensure_table(spark, "probe_exists_t", build)
    assert table_exists(spark, "probe_exists_t") is True
    assert df1.count() == 5 and calls["n"] == 1
    # guard: second call must NOT rebuild (the incremental-build guard)
    ensure_table(spark, "probe_exists_t", build)
    assert calls["n"] == 1
    # forced refresh rebuilds
    ensure_table(spark, "probe_exists_t", build, overwrite=True)
    assert calls["n"] == 2
    # default-db qualification matches the macro's schema argument
    assert table_exists(spark, "probe_exists_t", db="default") is True
    spark.sql("DROP TABLE IF EXISTS probe_exists_t")
