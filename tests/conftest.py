from __future__ import annotations

import os

import pytest

from logstash_forwarder_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session for fast tests; pipeline code itself never assumes
    # a parallelism level.
    s = get_spark(
        app_name="lfs-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield s


@pytest.fixture()
def tmp_out(tmp_path):
    return str(tmp_path / "out")


@pytest.fixture
def no_dir_rename(monkeypatch):
    """Make ``os.replace`` raise on directories: a test using it proves its
    publish/resume/maintenance path needs only single-FILE atomic swaps,
    the primitive object stores provide (plans/manifest.py)."""
    real = os.replace

    def guarded(src, dst, *a, **k):
        if os.path.isdir(src):
            raise AssertionError(f"directory rename attempted: {src} -> {dst}")
        return real(src, dst, *a, **k)

    monkeypatch.setattr(os, "replace", guarded)


# events table schema shared by the streaming/aggregate tests
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
