"""Unit tests for the reference-semantics pipeline (SURVEY §5.2.2-3).

Each test pins a semantic corner inherited from the reference
(/root/reference/etl_connector.py citations in the docstrings).
"""

from __future__ import annotations

import datetime as dt

import pytest

from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import ConfigError, PipelineConfig
from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSES, raw_pulses_df
from custom_python_etl_data_connector_keerthana2k4_tech_spark.pipeline import (
    TRANSFORMED_COLUMNS,
    invalid_records,
    run_batch,
    transform_pulses,
    validate,
)

RUN_TS = dt.datetime(2024, 6, 1, 12, 0, 0)
CFG = PipelineConfig(api_key="test", connector_name="test_connector", city="")


def _transformed(spark):
    return transform_pulses(raw_pulses_df(spark), CFG, run_ts=RUN_TS)


def test_output_schema(spark):
    df = _transformed(spark)
    assert tuple(df.columns) == TRANSFORMED_COLUMNS


def test_full_record_extraction(spark):
    """pulse_info fields extracted (etl_connector.py:150-154)."""
    row = _transformed(spark).filter("pulse_id = 'pi-001' and indicator_count = 7").first()
    assert row.pulse_name == "Emotet wave"
    assert row.pulse_created == "2024-01-01T00:00:00"
    assert row.pulse_modified == "2024-01-02T00:00:00"
    assert row.source == "otx"
    assert row.connector_name == "test_connector"
    assert row.ingestion_timestamp == RUN_TS


def test_pulse_id_coalesce_top_level(spark):
    """pulse_info absent -> top-level id (etl_connector.py:156-158)."""
    row = _transformed(spark).filter("raw.name = 'raw-only'").first()
    assert row.pulse_id == "p-002"
    assert row.pulse_name is None


def test_pulse_id_pulse_info_wins(spark):
    """Both ids present -> pulse_info.id wins (etl_connector.py:158)."""
    row = _transformed(spark).filter("raw.id = 'p-003-top'").first()
    assert row.pulse_id == "pi-003"


def test_pulse_id_missing_both(spark):
    """Neither id -> NULL key (insert fallback downstream, :185-187)."""
    row = _transformed(spark).filter("raw.name = 'orphan'").first()
    assert row.pulse_id is None


def test_falsy_empty_string_id(spark):
    """Empty-string ids are falsy in the reference's `or` coalesce (:158);
    engine maps '' -> NULL before coalescing (SURVEY §2.1a)."""
    row = _transformed(spark).filter("raw.pulse_info.name = 'falsy'").first()
    assert row.pulse_id is None


def test_indicator_count_absent_vs_zero(spark):
    """Absent -> NULL, present-as-0 -> 0 (etl_connector.py:161-162)."""
    df = _transformed(spark)
    assert df.filter("pulse_id = 'pi-005'").first().indicator_count is None
    assert df.filter("pulse_id = 'pi-006'").first().indicator_count == 0


def test_empty_city_becomes_null(spark):
    """CITY or None: empty string -> NULL (etl_connector.py:142)."""
    assert _transformed(spark).first().source_city is None
    with_city = transform_pulses(
        raw_pulses_df(spark), PipelineConfig(api_key="k", city="Chennai"), run_ts=RUN_TS
    )
    assert with_city.first().source_city == "Chennai"


def test_validation_filter(spark):
    """Docs missing required fields dropped, not failed (:194-203,221-223)."""
    import pyspark.sql.functions as F

    df = _transformed(spark)
    assert validate(df).count() == len(RAW_PULSES)  # all fixture rows valid
    assert invalid_records(df).count() == 0
    # Null ingestion_timestamp -> dropped
    broken = df.withColumn(
        "ingestion_timestamp", F.when(F.col("pulse_id") == "pi-001", None).otherwise(df.ingestion_timestamp)
    )
    assert invalid_records(broken).count() == 2  # two pi-001 rows in fixture


def test_run_batch_idempotent(spark, tmp_path):
    """Golden end-to-end: run(run(x)) == run(x) (upsert idempotence, :181)."""
    target = str(tmp_path / "pulses_table")
    m1 = run_batch(spark, raw_pulses_df(spark), CFG, target, run_ts=RUN_TS)
    out1 = spark.read.parquet(target)
    n1 = out1.count()
    # 8 fixture rows, two share pulse_id pi-001 -> 7 rows survive
    assert m1["records_seen"] == len(RAW_PULSES) == 8
    assert n1 == 7
    # last-write-wins: the newer modified wins for pi-001
    assert out1.filter("pulse_id = 'pi-001'").first().pulse_modified == "2024-01-02T00:00:00"

    m2 = run_batch(spark, raw_pulses_df(spark), CFG, target, run_ts=RUN_TS)
    assert m2["records_upserted"] == 8
    out2 = spark.read.parquet(target)
    # keyed rows converge (5 distinct keys); the two NULL-key rows are
    # re-inserted each run (reference plain-insert fallback, :185-187)
    assert out2.filter("pulse_id is not null").count() == 5
    assert out2.filter("pulse_id = 'pi-001'").count() == 1
    assert out2.filter("pulse_id is null").count() == 4


def _pulses(spark, rows):
    """Raw frame of (pulse id, modified, name) records."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.otx_fixture import RAW_PULSE_SCHEMA

    return spark.createDataFrame(
        [
            {"id": pid, "pulse_info": {"id": pid, "name": name, "modified": mod}}
            for pid, mod, name in rows
        ],
        schema=RAW_PULSE_SCHEMA,
    )


def _stored(spark, target):
    return sorted(
        (r.pulse_id or "", r.pulse_modified or "", r.pulse_name)
        for r in spark.read.parquet(target).collect()
    )


def test_run_batch_in_batch_collapse(spark, tmp_path):
    """Within one batch the later pulse_modified wins and exact duplicates
    collapse to one row; NULL-key and empty-key rows are all kept, exact
    duplicates included (insert fallback, etl_connector.py:185-187)."""
    target = str(tmp_path / "t")
    batch = _pulses(
        spark,
        [
            ("k", "2024-01-01", "a"),
            ("k", "2024-01-03", "c"),
            ("k", "2024-01-02", "b"),
            ("d", "2024-01-01", "dup"),
            ("d", "2024-01-01", "dup"),
            (None, "2024-01-01", "orphan"),
            (None, "2024-01-01", "orphan"),
            ("", "2024-01-01", "falsy"),
            ("", "2024-01-01", "falsy"),
        ],
    )
    m = run_batch(spark, batch, CFG, target, run_ts=RUN_TS)
    assert m["records_upserted"] == 9
    assert _stored(spark, target) == [
        ("", "2024-01-01", "falsy"),
        ("", "2024-01-01", "falsy"),
        ("", "2024-01-01", "orphan"),
        ("", "2024-01-01", "orphan"),
        ("d", "2024-01-01", "dup"),
        ("k", "2024-01-03", "c"),
    ]


def test_run_batch_same_run_ts_batch_wins_tie(spark, tmp_path):
    """A re-run with the same run_ts replaces the stored row even when its
    pulse_modified is older (batch wins ties, replace_one :181); a run
    with an older run_ts loses to the stored row."""
    target = str(tmp_path / "t")
    run_batch(spark, _pulses(spark, [("k", "2024-02-01", "first")]), CFG, target, run_ts=RUN_TS)
    run_batch(spark, _pulses(spark, [("k", "2024-01-01", "rerun")]), CFG, target, run_ts=RUN_TS)
    assert _stored(spark, target) == [("k", "2024-01-01", "rerun")]
    older = RUN_TS - dt.timedelta(days=1)
    run_batch(spark, _pulses(spark, [("k", "2024-03-01", "stale")]), CFG, target, run_ts=older)
    assert _stored(spark, target) == [("k", "2024-01-01", "rerun")]


def test_config_fail_fast():
    """Missing API key -> fail fast (etl_connector.py:33-34)."""
    with pytest.raises(ConfigError):
        PipelineConfig.from_env(env={}, require_api_key=True)
    cfg = PipelineConfig.from_env(
        env={"OTX_API_KEY": "k", "CITY": "Chennai", "CONNECTOR_NAME": "c1"}
    )
    assert (cfg.api_key, cfg.city, cfg.connector_name) == ("k", "Chennai", "c1")

def test_config_dotenv_parity(tmp_path):
    """R12 .env loading (etl_connector.py:23 load_dotenv): file values fill
    missing keys, process env wins, missing file is a no-op."""
    from custom_python_etl_data_connector_keerthana2k4_tech_spark.config import parse_dotenv

    envfile = tmp_path / ".env"
    envfile.write_text(
        "# comment\n"
        "OTX_API_KEY=from-file\n"
        "export CITY='Chennai'\n"
        'CONNECTOR_NAME="c-file"  \n'
        "OTX_BASE_URL=http://x  # inline comment\n"
        "BROKEN LINE\n"
    )
    parsed = parse_dotenv(str(envfile))
    assert parsed == {
        "OTX_API_KEY": "from-file",
        "CITY": "Chennai",
        "CONNECTOR_NAME": "c-file",
        "OTX_BASE_URL": "http://x",
    }
    # file fills the gaps, explicit env wins (load_dotenv override=False)
    cfg = PipelineConfig.from_env(
        env={"OTX_API_KEY": "from-env"}, dotenv_path=str(envfile)
    )
    assert cfg.api_key == "from-env"
    assert (cfg.city, cfg.connector_name, cfg.base_url) == (
        "Chennai", "c-file", "http://x",
    )
    # missing file: silent no-op, fail-fast still applies
    with pytest.raises(ConfigError):
        PipelineConfig.from_env(env={}, dotenv_path=str(tmp_path / "nope"))
