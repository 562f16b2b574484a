"""Config loader (S5 parity) tests."""

import json

import pytest

from red_seal_ocr_spark.config import DEFAULT_CONFIG, EngineConfig, load_config


def test_defaults_without_file():
    assert load_config() == DEFAULT_CONFIG


def test_json_overrides(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"sat_min": 60, "hue_band2": [150, 180], "max_size": 999}))
    cfg = load_config(str(p))
    assert cfg.sat_min == 60
    assert cfg.hue_band2 == (150, 180)
    assert cfg.max_size == 999
    assert cfg.hue_band1 == DEFAULT_CONFIG.hue_band1  # untouched


def test_kwarg_overrides_beat_file(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"sat_min": 60}))
    assert load_config(str(p), sat_min=70).sat_min == 70


def test_unknown_key_rejected(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"definitely_not_a_key": 1}))
    with pytest.raises(ValueError, match="definitely_not_a_key"):
        load_config(str(p))


def test_yaml_if_available(tmp_path):
    pytest.importorskip("yaml")
    p = tmp_path / "cfg.yaml"
    p.write_text("sat_min: 55\nval_min: 45\n")
    cfg = load_config(str(p))
    assert cfg.sat_min == 55 and cfg.val_min == 45


def test_config_is_frozen():
    with pytest.raises(Exception):
        DEFAULT_CONFIG.sat_min = 99  # type: ignore


@pytest.mark.parametrize("key", ["salt_partitions", "arrow_max_records"])
def test_removed_spark_knobs_rejected(key):
    """Kernel-stage sizing is AQE's and the Arrow batch cap is the
    session's: neither is an engine setting any more."""
    with pytest.raises(ValueError, match=key):
        load_config(**{key: 8})
