"""File-based ingestion path (S1-S7, I1-I12): encoding decision,
format dispatch, hash-skip, per-file metadata/row ids, audit log."""

from __future__ import annotations

import os
import shutil

import pytest

from iot_temp_data_pipeline_spark.sources.csv_ingest import (
    ingest_directory,
    list_csv_files,
    read_landed,
    scan_file,
    sha256_file,
)

KAGGLE_CSV = """id,room_id/id,noted_date,temp,out/in
__export__.temp_log_196134_bd201015,Room Admin,08-12-2018 09:30,29,In
__export__.temp_log_196131_7bca51bc,Room Admin,08-12-2018 09:30,41,Out
__export__.temp_log_196127_522915e3,Room 809,not-a-date,31,In
__export__.temp_log_196128_abc,Room Admin,09-12-2018 10:00,,Out
"""


@pytest.fixture()
def landing(tmp_path):
    (tmp_path / "a.csv").write_text(KAGGLE_CSV, encoding="utf-8")
    # latin1-only bytes (0xe9 = é): not UTF-8, so the file reads as latin1
    (tmp_path / "b.csv").write_bytes(
        "id,room_id/id,noted_date,temp,out/in\n"
        "x_caf\xe9_19699,Room Admin,01-01-2019 00:00,22,In\n".encode("latin1")
    )
    return str(tmp_path)


def test_glob_and_hash(landing):
    files = list_csv_files(landing)
    assert [f.rsplit("/", 1)[1] for f in files] == ["a.csv", "b.csv"]
    h = sha256_file(files[0])
    assert len(h) == 64 and h == sha256_file(files[0])


def test_scan_decides_encoding(spark, landing):
    a, b = (scan_file(p) for p in list_csv_files(landing))
    assert (a.encoding, b.encoding) == ("utf-8", "latin1")
    assert a.sha256 == sha256_file(a.path)
    assert a.header == b.header == ["id", "room_id/id", "noted_date", "temp", "out/in"]
    # the 0xe9 byte is not UTF-8, so b.csv reads as latin1 and é survives
    assert any("caf\xe9" in r["id"] for r in read_landed(spark, b).collect())


def test_scan_names_header_like_spark(tmp_path):
    """Empty and case-insensitively repeated header names get the names
    Spark's header inference gives them."""
    path = tmp_path / "odd.csv"
    path.write_text("id,ID,,temp, sp \n1,2,3,4,5\n", encoding="utf-8")
    assert scan_file(str(path)).header == ["id0", "ID1", "_c2", "temp", " sp "]


def _kaggle_rows(*rows: str) -> str:
    return "id,room_id/id,noted_date,temp,out/in\n" + "".join(r + "\n" for r in rows)


def test_authored_replacement_char_and_bom_stay_utf8(spark, tmp_path):
    """A U+FFFD written on purpose is valid UTF-8: the file is read as
    utf-8 and the character lands as authored, the way perfbench's
    independent check decodes a file (strict UTF-8, else latin-1). A
    BOM-prefixed UTF-8 file is utf-8 too, with the BOM gone from the
    header the format dispatch reads."""
    (tmp_path / "fffd.csv").write_text(
        _kaggle_rows("x_aaaa1111,Room \ufffd Lab,08-12-2018 09:30,29,In"),
        encoding="utf-8",
    )
    (tmp_path / "bom.csv").write_text(
        _kaggle_rows("x_bbbb2222,Room Admin,08-12-2018 09:30,30,Out"),
        encoding="utf-8-sig",
    )
    res = ingest_directory(spark, str(tmp_path))
    audit = {r["file_name"]: r for r in res.audit_log.collect()}
    assert {n: r["encoding"] for n, r in audit.items()} == {
        "bom.csv": "utf-8",
        "fffd.csv": "utf-8",
    }
    assert audit["bom.csv"]["sanitized_columns"] == "id,room_id_id,noted_date,temp,out_in"
    locations = {r["file_name"]: r["location"] for r in res.readings.collect()}
    assert locations == {"fffd.csv": "\ufffd Lab_in", "bom.csv": "Office_out"}


def test_no_jobs_before_skip_check(spark, landing):
    """Hash, encoding and header come from the driver's pass over the
    bytes, so building the batch starts no Spark job."""
    sc = spark.sparkContext
    group = "csv-ingest-no-jobs"
    sc.setJobGroup(group, "ingest_directory with no processing log")
    try:
        res = ingest_directory(spark, landing)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the tracker does see this group's jobs once one runs
        res.readings.count()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_built_frames_are_jvm_local(spark, landing, monkeypatch):
    """The candidate list, the audit log and the empty readings frame are
    built on the driver as LocalRelations: no plan that reads them has an
    ``ExistingRDD`` (Python RDD) leaf, so none starts a Python worker."""
    a_hash = sha256_file(list_csv_files(landing)[0])
    log = spark.sql(f"SELECT * FROM VALUES ('{a_hash}') AS t(file_hash)")
    collected: list[str] = []
    collect = type(log).collect

    def recording_collect(self):
        collected.append(_physical_plan(self))
        return collect(self)

    monkeypatch.setattr(type(log), "collect", recording_collect)
    res = ingest_directory(spark, landing, processed_hashes=log)
    assert res.skipped_files == [list_csv_files(landing)[0]]
    # the candidate anti-join is the one collect ingest_directory runs
    assert len(collected) == 1 and "LeftAnti" in collected[0]
    assert "ExistingRDD" not in collected[0]
    assert "ExistingRDD" not in _physical_plan(res.audit_log)

    everything = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"('{sha256_file(p)}')" for p in list_csv_files(landing))
        + " AS t(file_hash)"
    )
    res = ingest_directory(spark, landing, processed_hashes=everything)
    assert res.audit_log.count() == 0 and res.readings.count() == 0
    assert "ExistingRDD" not in _physical_plan(res.audit_log)
    assert "ExistingRDD" not in _physical_plan(res.readings)


def test_short_row_padded_long_row_truncated(spark, tmp_path):
    """PERMISSIVE parsing: a short row is null-padded and kept when its
    date parses; a long row's extra tokens are dropped."""
    (tmp_path / "ragged.csv").write_text(
        _kaggle_rows(
            "x_aaaa1111,Room Admin,08-12-2018 09:30,29",
            "x_bbbb2222,Room 809,08-12-2018 10:30,30,In,extra,more",
        ),
        encoding="utf-8",
    )
    res = ingest_directory(spark, str(tmp_path))
    rows = {r["device_id"]: r for r in res.readings.collect()}
    assert set(rows) == {"IOT_TEMP_AAAA1111", "IOT_TEMP_BBBB2222"}
    assert rows["IOT_TEMP_AAAA1111"]["location"] == "Office"
    assert rows["IOT_TEMP_AAAA1111"]["temperature"] == 29.0
    assert rows["IOT_TEMP_BBBB2222"]["location"] == "809_in"
    assert rows["IOT_TEMP_BBBB2222"]["temperature"] == 30.0
    assert [r["encoding"] for r in res.audit_log.collect()] == ["utf-8"]


def test_file_metadata_survives_special_names(spark, tmp_path):
    """A landing file named with a space, ``%``, ``+`` and a non-ASCII
    letter keeps its own name, path and hash on every row, and each file
    is numbered 1..n on its own."""
    names = ["x y%20\xe9.csv", "a+b.csv"]
    for k, name in enumerate(names):
        (tmp_path / name).write_text(
            _kaggle_rows(
                f"x_aaaa0000,Room Admin,08-12-2018 09:30,{29 + k},In",
                "x_bbbb0000,Room 809,08-12-2018 10:30,30,Out",
            ),
            encoding="utf-8",
        )
    res = ingest_directory(spark, str(tmp_path))
    expected = {
        name: (str(tmp_path / name), sha256_file(str(tmp_path / name)))
        for name in names
    }
    rows = res.readings.collect()
    for r in rows:
        assert (r["file_path"], r["file_hash"]) == expected[r["file_name"]]
    for name in names:
        assert sorted(r["row_number"] for r in rows if r["file_name"] == name) == [1, 2]
    for r in res.audit_log.collect():
        assert (r["file_path"], r["file_hash"]) == expected[r["file_name"]]


def test_ingest_directory_end_to_end(spark, landing):
    res = ingest_directory(spark, landing)
    rows = res.readings.collect()
    # a.csv: 4 data rows, 1 unparseable date dropped (I10) → 3; b.csv: 1
    assert len(rows) == 4
    by_id = {r["device_id"] for r in rows}
    # I2: last _-segment uppercased, 8 chars
    assert "IOT_TEMP_BD201015" in by_id and "IOT_TEMP_7BCA51BC" in by_id
    first = [r for r in rows if r["device_id"] == "IOT_TEMP_BD201015"][0]
    # I5: "Room " stripped, Admin→Office, lowercased suffix
    assert first["location"] == "Office_in"
    assert first["row_number"] >= 1
    assert first["file_name"] == "a.csv"
    assert len(first["file_hash"]) == 64
    assert first["file_record_id"].startswith(first["file_hash"])
    # null temp row survives with null temperature (range check is staging's job)
    assert any(r["temperature"] is None for r in rows)
    # S6 audit log: one row per file
    audit = {r["file_name"]: r for r in res.audit_log.collect()}
    assert set(audit) == {"a.csv", "b.csv"}
    assert all(r["status"] == "processed" for r in audit.values())


def test_hash_skip(spark, landing):
    first = ingest_directory(spark, landing)
    log = first.audit_log.select("file_hash")
    second = ingest_directory(spark, landing, processed_hashes=log)
    assert len(second.skipped_files) == 2
    assert second.readings.count() == 0


def test_identical_files_in_one_drop_land_once(spark, landing):
    """A byte-identical copy within one drop is skipped like a
    re-delivery: the first path in sorted order lands, the copy is
    reported in ``skipped_files``, and no ``_dlt_id`` repeats."""
    copy = os.path.join(landing, "a_copy.csv")
    shutil.copy(os.path.join(landing, "a.csv"), copy)
    res = ingest_directory(spark, landing)
    assert res.skipped_files == [copy]
    assert {r["file_name"] for r in res.audit_log.collect()} == {"a.csv", "b.csv"}
    ids = [r["_dlt_id"] for r in res.readings.collect()]
    assert len(ids) == 4 and len(set(ids)) == 4


def test_synthetic_fields_bounds(spark, landing):
    res = ingest_directory(spark, landing, synthetic_fields=True)
    for r in res.readings.collect():
        assert 20.0 <= r["humidity"] <= 95.0
        assert 10.0 <= r["battery_level"] <= 100.0
        assert -90.0 <= r["signal_strength"] <= -20.0
        assert r["device_type"] in {"DHT22", "DS18B20", "SHT30", "BME280", "TMP36"}
        assert r["firmware_version"] in {"v1.2.3", "v1.2.4", "v1.3.0", "v1.3.1", "v2.0.0"}


def test_kaggle_transform_is_ansi_independent(spark, sf_dir):
    """The driver owns the SparkSession and runs ANSI-on; the coerce-to-
    null parse/cast semantics must not depend on session config
    (regression for the round-1 CANNOT_PARSE_TIMESTAMP crash). The full
    ANSI sweep is `SPARK_GRAFT_ANSI=true python -m pytest tests/`; this
    pins the known-sensitive path in the default run."""
    from iot_temp_data_pipeline_spark.plans.registry import REGISTRY

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = REGISTRY["ingest_kaggle_transform"].spark(spark, sf_dir)
        assert df.count() > 0  # would raise CANNOT_PARSE_TIMESTAMP before
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
