from __future__ import annotations

import os
import re

import pytest

from logstash_forwarder_spark.plans import manifest
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
    """Forbid every rename but ``publish_file``'s one-file swap:
    ``os.replace`` and ``os.rename`` raise unless the source is a temp file
    named ``.<basename(dst)>.<hex>.tmp`` in ``dst``'s own directory. A test
    using it proves its publish/resume/maintenance path moves no directory
    and no data file — only single small files are swapped into place, the
    primitive object stores provide (plans/manifest.py). It patches this
    Python process only: it cannot see a rename inside the JVM (such as
    Hadoop's output committer moving task output out of ``_temporary``)
    or in a Python worker process."""

    def guard(real):
        def rename(src, dst, *a, **k):
            d, base = os.path.split(os.fspath(dst))
            src_dir, src_base = os.path.split(os.fspath(src))
            pattern = rf"\.{re.escape(base)}\.[0-9a-f]+\.tmp"
            if src_dir != d or not re.fullmatch(pattern, src_base):
                raise AssertionError(f"rename other than a one-file swap: {src} -> {dst}")
            return real(src, dst, *a, **k)

        return rename

    monkeypatch.setattr(os, "replace", guard(os.replace))
    monkeypatch.setattr(os, "rename", guard(os.rename))


class InjectedFailure(RuntimeError):
    """A simulated crash, raised by ``crash_at_run_swap``."""


@pytest.fixture
def crash_at_run_swap(monkeypatch):
    """``crash_at_run_swap()``: the next swap of a run manifest
    (``run_id=R/_manifest.json``) raises InjectedFailure instead — a run
    that dies after writing its data files and before its one commit.
    Fires once; later swaps (the resume) run normally."""

    def arm() -> None:
        real = manifest.publish_file

        def publish_file(final, data):
            if os.path.basename(final) == manifest.RUN_MANIFEST:
                monkeypatch.setattr(manifest, "publish_file", real)
                raise InjectedFailure("injected crash at the run swap")
            return real(final, data)

        monkeypatch.setattr(manifest, "publish_file", publish_file)

    return arm


# events table schema shared by the streaming/aggregate tests
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
