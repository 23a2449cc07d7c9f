"""Config layer tests — mirrors /root/reference/config_test.go:34-210."""

from __future__ import annotations

import json

import pytest

from logstash_forwarder_spark.config import (
    ConfigError,
    discover_configs,
    load_config,
    load_forwarder_config,
    merge_configs,
    parse_forwarder_config,
    strip_comments,
)


def test_discover_file_and_dir(tmp_path):
    f = tmp_path / "one.json"
    f.write_text("{}")
    assert discover_configs(str(f)) == [str(f)]
    (tmp_path / "b.json").write_text("{}")
    (tmp_path / ".hidden").write_text("{}")
    got = discover_configs(str(tmp_path))
    assert [g.rsplit("/", 1)[1] for g in got] == ["b.json", "one.json"]
    with pytest.raises(ConfigError):
        discover_configs(str(tmp_path / "nope"))


def test_strip_comments_outside_strings():
    # config_test.go:77-143: '#' inside a quoted string must survive
    text = '{"a": "x # not a comment"} # real comment'
    assert json.loads(strip_comments(text)) == {"a": "x # not a comment"}


def test_env_expansion(tmp_path, monkeypatch):
    monkeypatch.setenv("LOGDIR", "/var/log/env")
    f = tmp_path / "c.json"
    f.write_text('{"files": [{"paths": ["$LOGDIR/*.log", "${LOGDIR}/x"]}]}')
    cfg = load_forwarder_config(str(f))
    assert cfg.files[0].paths == ["/var/log/env/*.log", "/var/log/env/x"]


def test_merge_conflict_fatal():
    # config_test.go:161-210: duplicate scalar keys are fatal
    with pytest.raises(ConfigError):
        merge_configs([{"timeout_sec": 5}, {"timeout_sec": 9}])
    merged = merge_configs([{"routes": [[0, "true", "a"]]}, {"routes": [[1, "true", "b"]]}])
    assert len(merged["routes"]) == 2


def test_finalize_defaults():
    # config_test.go:145-159: FinalizeConfig defaults timeout to 15s
    cfg = parse_forwarder_config({"files": [{"paths": ["/x.log"]}]})
    assert cfg.timeout_sec == 15
    assert cfg.files[0].dead_time == "24h"


def test_size_cap(tmp_path):
    f = tmp_path / "big.json"
    f.write_text("{" + " " * (10 << 20) + "}")
    with pytest.raises(ConfigError):
        load_config(str(f))


def test_empty_config(tmp_path):
    # config_test.go:59-75: empty config is valid
    f = tmp_path / "empty.json"
    f.write_text("# only a comment\n")
    assert load_config(str(f)) == {}
