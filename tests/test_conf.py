"""Config resolution: defaults < INI < env (conf.py, mirroring the
reference's file+env two-tier, `config.py:10-77`)."""

from __future__ import annotations

from open_source_etl_spark.conf import EngineConfig


def test_defaults():
    cfg = EngineConfig()
    assert cfg.partition_levels == ("year", "month", "day")
    assert cfg.shuffle_partitions == 32
    assert cfg.session_timezone == "UTC"


def test_ini_overrides_defaults(tmp_path):
    ini = tmp_path / "settings.ini"
    ini.write_text(
        "[engine]\nshuffle_partitions = 8\nsource_delimiter = ;\n"
        "entities = a_scores,b_scores\n"
    )
    cfg = EngineConfig.from_env(str(ini))
    assert cfg.shuffle_partitions == 8
    assert cfg.source_delimiter == ";"
    assert cfg.entities == ("a_scores", "b_scores")
    # untouched fields keep defaults
    assert cfg.session_timezone == "UTC"


def test_env_overrides_ini(tmp_path, monkeypatch):
    ini = tmp_path / "settings.ini"
    ini.write_text("[engine]\nshuffle_partitions = 8\nadaptive_enabled = true\n")
    monkeypatch.setenv("OSETL_SHUFFLE_PARTITIONS", "4")
    monkeypatch.setenv("OSETL_ADAPTIVE_ENABLED", "false")
    cfg = EngineConfig.from_env(str(ini))
    assert cfg.shuffle_partitions == 4
    assert cfg.adaptive_enabled is False


def test_unknown_ini_keys_ignored(tmp_path):
    ini = tmp_path / "settings.ini"
    ini.write_text("[engine]\nnot_a_real_key = x\nmaster = local[2]\n")
    cfg = EngineConfig.from_env(str(ini))
    assert cfg.master == "local[2]"
    assert not hasattr(cfg, "not_a_real_key")


def test_tune_session_rejects_invalid_shuffle_partitions(spark):
    """A conf Spark refuses surfaces from ``tune_session`` instead of
    leaving the session on its old value; the shared session's conf is
    restored afterwards."""
    import pytest
    from pyspark.errors import IllegalArgumentException

    from open_source_etl_spark.session import tune_session

    keys = (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.shuffle.partitions",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        with pytest.raises(
            IllegalArgumentException, match="spark.sql.shuffle.partitions"
        ):
            tune_session(spark, EngineConfig(shuffle_partitions=0))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in keys} == saved
