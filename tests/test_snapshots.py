"""Iceberg-style snapshot log over the registrar: commit ordering,
VERSION AS OF / TIMESTAMP AS OF reads at run-commit granularity (one
snapshot per run), and the log's survival of compaction, which swaps the
manifests that record it."""

from __future__ import annotations

import os

import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
from logstash_forwarder_spark.plans.compact import compact_run
from logstash_forwarder_spark.plans.registrar import Registrar


def _run(spark, tmp_out, run_id="snaprun"):
    seqs = gen_sequences(spark, 3000, num_partitions=4)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id=run_id))
    return Registrar(os.path.join(tmp_out, "_checkpoint"))


def test_snapshot_ordering_and_current(spark, tmp_out):
    _run(spark, tmp_out, run_id="r1")
    reg = _run(spark, tmp_out, run_id="r2")
    snaps = reg.snapshots()
    assert [s.run_id for s in snaps] == ["r1", "r2"]  # one per run
    assert [s.sequence_number for s in snaps] == [0, 1]
    assert snaps[0].committed_at <= snaps[1].committed_at
    assert all(s.committed_at.tzinfo is not None for s in snaps)
    assert all(len(s.sinks) == 4 for s in snaps)
    assert reg.current().snapshot_id == snaps[-1].snapshot_id
    # stable across re-listing
    assert [s.snapshot_id for s in reg.snapshots()] == [
        s.snapshot_id for s in snaps
    ]


def test_version_as_of_sees_prefix_of_commits(spark, tmp_out):
    _run(spark, tmp_out, run_id="r1")
    reg = _run(spark, tmp_out, run_id="r2")
    first, last = reg.snapshots()
    df_first = reg.read_as_of(spark, tmp_out, "r1", snapshot_id=first.snapshot_id)
    sinks_first = {r.sink for r in df_first.select("sink").distinct().collect()}
    assert sinks_first == set(first.sinks)  # the whole run, every sink
    assert df_first.count() == 3000
    with pytest.raises(ValueError, match="no committed data"):
        reg.read_as_of(spark, tmp_out, "r2", snapshot_id=first.snapshot_id)
    assert reg.read_as_of(spark, tmp_out, "r2", snapshot_id=last.snapshot_id).count() == 3000


def test_timestamp_as_of_and_errors(spark, tmp_out):
    reg = _run(spark, tmp_out)
    [snap] = reg.snapshots()
    # TIMESTAMP AS OF includes every run whose instant is <= the requested
    # time: the run's one instant shows all its sinks at once
    df = reg.read_as_of(spark, tmp_out, "snaprun", as_of=snap.committed_at)
    assert {r.sink for r in df.select("sink").distinct().collect()} == set(snap.sinks)
    # a timestamp strictly before the commit sees nothing
    import datetime

    with pytest.raises(ValueError, match="no committed data"):
        reg.read_as_of(
            spark,
            tmp_out,
            "snaprun",
            as_of=snap.committed_at - datetime.timedelta(seconds=1),
        )
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        reg.read_as_of(spark, tmp_out, "snaprun", snapshot_id="nope")
    with pytest.raises(ValueError, match="no committed data"):
        reg.read_as_of(spark, tmp_out, "otherrun")


def test_cross_run_snapshot_cut(spark, tmp_path):
    """A snapshot_id from another run defines a global point-in-time cut:
    run2 read as of run1's last snapshot sees nothing (honest error),
    and as of run2's own last snapshot sees everything."""
    out = str(tmp_path / "multi")
    log1 = _run(spark, out, run_id="r1")
    log2 = _run(spark, out, run_id="r2")
    snaps = log2.snapshots()
    r1_last = [s for s in snaps if s.run_id == "r1"][-1]
    r2_last = [s for s in snaps if s.run_id == "r2"][-1]
    with pytest.raises(ValueError, match="no committed data"):
        log2.read_as_of(spark, out, "r2", snapshot_id=r1_last.snapshot_id)
    df = log2.read_as_of(spark, out, "r2", snapshot_id=r2_last.snapshot_id)
    assert df.count() > 0
    # and r1's data read at r2's (later) cut is fully visible
    assert log1.read_as_of(spark, out, "r1", snapshot_id=r2_last.snapshot_id).count() > 0


def _snapshot_log(reg):
    return [
        (s.snapshot_id, s.run_id, s.sinks, s.committed_at, s.sequence_number)
        for s in reg.snapshots()
    ]


def test_compaction_preserves_everything(spark, tmp_out):
    """compact_sink swaps the manifest that records each snapshot, so it
    must carry the record over: after every sink of a run is compacted,
    the snapshot log (ids, order, instants), resume state, lineage and a
    time-travel read at every snapshot of the run are all identical."""
    reg = _run(spark, tmp_out)  # run 1: 4 input partitions, 4 files a sink
    seqs = gen_sequences(spark, 1000, num_partitions=2)
    run_pipeline(
        spark, seqs, gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id="snaprun2"),
    )

    def state():
        return (
            _snapshot_log(reg),
            reg.committed_sinks("snaprun"),
            reg.committed_sinks("snaprun2"),
            sorted(map(tuple, reg.lineage().to_pylist())),
            [
                reg.read_as_of(
                    spark, tmp_out, "snaprun", snapshot_id=s.snapshot_id
                ).count()
                for s in reg.snapshots()
                if s.run_id == "snaprun"
            ],
        )

    before = state()
    reports = compact_run(spark, tmp_out, "snaprun")
    assert all(r["rewritten"] and r["files_after"] < r["files_before"] for r in reports)
    assert state() == before
    # compacting again is a no-op that keeps the record too
    assert not any(r["rewritten"] for r in compact_run(spark, tmp_out, "snaprun"))
    assert state() == before


def test_commits_after_compaction_and_override(spark, tmp_out):
    """New commits after a compaction appear beside the compacted ones; a
    per-sink re-commit into a compacted run OVERRIDES that sink's entry
    (same snapshot identity, no duplicate) and keeps the others."""
    from logstash_forwarder_spark.plans.registrar import LineageRow

    reg = _run(spark, tmp_out, run_id="r1")
    compact_run(spark, tmp_out, "r1")
    sinks = sorted(reg.committed_sinks("r1"))
    n_snaps = len(reg.snapshots())

    # new commit post-compaction
    reg.commit("r2", "sinkA", [LineageRow(0, 5, 50)])
    assert reg.committed_sinks("r1") == set(sinks)
    assert reg.committed_sinks("r2") == {"sinkA"}
    assert len(reg.snapshots()) == n_snaps + 1

    # override: re-commit a compacted pair with different numbers
    reg.commit("r1", sinks[0], [LineageRow(0, 11, 111)])
    t = reg.lineage("r1")
    assert [
        rc for s, rc in zip(t["sink"].to_pylist(), t["row_count"].to_pylist())
        if s == sinks[0]
    ] == [11]
    assert sorted(set(t["sink"].to_pylist())) == sinks
    assert len(reg.snapshots()) == n_snaps + 1  # same identity, no dup


def test_time_travel_across_compaction_boundary(spark, tmp_out):
    """A VERSION AS OF cut can land between compacted snapshots and later
    ones: the global order must interleave both correctly and the read
    must resolve each side's sinks."""
    reg = _run(spark, tmp_out)  # run 1 (several sink commits)
    compact_run(spark, tmp_out, "snaprun")

    run_pipeline(
        spark,
        gen_sequences(spark, 1000, num_partitions=2),
        gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id="snaprun2"),
    )
    snaps = reg.snapshots()
    pre = [s for s in snaps if s.run_id == "snaprun"]
    post = [s for s in snaps if s.run_id == "snaprun2"]
    assert pre and post
    assert max(s.sequence_number for s in pre) < min(
        s.sequence_number for s in post
    )
    # cut at the last compacted snapshot: run-1 data fully visible,
    # run-2 invisible at that version
    cut = pre[-1].snapshot_id
    df1 = reg.read_as_of(spark, tmp_out, "snaprun", snapshot_id=cut)
    assert df1.count() == 3000
    with pytest.raises(ValueError, match="no committed data"):
        reg.read_as_of(spark, tmp_out, "snaprun2", snapshot_id=cut)
    # at the newest snapshot run-2 is fully visible
    df2 = reg.read_as_of(
        spark, tmp_out, "snaprun2", snapshot_id=snaps[-1].snapshot_id
    )
    assert df2.count() == 1000
