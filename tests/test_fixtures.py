"""The query fixtures' one materialization helper
(queries.py ``_materialize_fixture``): a content-addressed directory
published by one atomic rename, safe against concurrent builders."""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from logstash_forwarder_spark.queries import _materialize_fixture


def test_fixture_stage_removed_on_lost_race_and_failed_render(tmp_path):
    """A builder that loses the publish race to a concurrent builder, or
    whose render raises, leaves no stage directory behind; the race loser
    returns the winner's directory."""
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "documents.parquet").write_bytes(b"fingerprint only")
    tag = f"racetest{os.getpid()}"
    won: list[str] = []

    def render_losing_race(stage: str, docs: str) -> None:
        # a concurrent builder publishes the same fixture mid-render
        out = os.path.join("/tmp", os.path.basename(stage).split(".stage.")[0])
        os.makedirs(out)
        open(os.path.join(out, "_SUCCESS"), "w").close()
        won.append(out)

    def render_failing(stage: str, docs: str) -> None:
        raise RuntimeError("render failed")

    try:
        assert _materialize_fixture(str(sf), tag, render_losing_race) == won[0]
        with pytest.raises(RuntimeError, match="render failed"):
            _materialize_fixture(str(sf), tag + "x", render_failing)
        assert glob.glob(f"/tmp/lfs_{tag}*.stage.*") == []
    finally:
        for d in glob.glob(f"/tmp/lfs_{tag}*"):
            shutil.rmtree(d, ignore_errors=True)
