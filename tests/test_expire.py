"""Registrar snapshot expiry + data GC (Iceberg ``expire_snapshots`` /
``retainLast`` parity; VERDICT r6 task 7).

At a poll-per-run tail cadence the snapshot log grows without bound —
expiry is the retention half of the maintenance pair next to compaction.
Everything runs under the no-directory-rename shim: expiry is per-key
deletes (data first, manifests last) + empty-dir rmdir only."""

from __future__ import annotations

import os
from datetime import timedelta

import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
from logstash_forwarder_spark.plans.compact import compact_run
from logstash_forwarder_spark.plans.manifest import read_manifest
from logstash_forwarder_spark.plans.registrar import Registrar

N = 1_500


def _publish(spark, tmp_out, run_id):
    seqs = gen_sequences(spark, N, num_partitions=4)
    res = run_pipeline(
        spark,
        seqs,
        gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id=run_id),
    )
    assert res.rows_staged == N
    return res


def _reg(tmp_out) -> Registrar:
    return Registrar(os.path.join(tmp_out, "_checkpoint"))


def test_expire_keep_last_drops_old_run_and_gcs_data(
    spark, tmp_out, no_dir_rename
):
    _publish(spark, tmp_out, "old")
    _publish(spark, tmp_out, "new")
    reg = _reg(tmp_out)
    snaps = reg.snapshots()
    new_count = sum(1 for s in snaps if s.run_id == "new")
    old_snaps = [s for s in snaps if s.run_id == "old"]
    assert old_snaps and new_count

    rep = reg.expire_snapshots(keep_last=new_count)
    assert {e["snapshot_id"] for e in rep["expired"]} == {
        s.snapshot_id for s in old_snaps
    }
    assert rep["data_files_removed"] > 0

    # metadata: only the new run's snapshots survive, sequence renumbered
    left = reg.snapshots()
    assert {s.run_id for s in left} == {"new"}
    assert [s.sequence_number for s in left] == list(range(len(left)))
    # data: the expired run's dir is fully gone (per-key GC + empty rmdir)
    assert not os.path.exists(os.path.join(tmp_out, "run_id=old"))

    # time travel to a SURVIVING snapshot is intact
    df = reg.read_as_of(
        spark, tmp_out, "new", snapshot_id=left[-1].snapshot_id
    )
    assert df.count() == N
    # ... and to an expired one raises, like Iceberg
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        reg.read_as_of(
            spark, tmp_out, "new", snapshot_id=old_snaps[0].snapshot_id
        )

    # resume of the surviving run is unaffected: identical re-run skips
    res = run_pipeline(
        spark,
        gen_sequences(spark, N, num_partitions=4),
        gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id="new"),
    )
    assert not res.sinks_committed and res.sinks_skipped
    assert res.rows_staged == 0

    # idempotent: nothing left to expire at the same cut
    rep2 = reg.expire_snapshots(keep_last=new_count)
    assert rep2["expired"] == [] and rep2["data_files_removed"] == 0


def test_expire_older_than_respects_retain_floor(spark, tmp_out, no_dir_rename):
    _publish(spark, tmp_out, "only")
    reg = _reg(tmp_out)
    snaps = reg.snapshots()
    future = snaps[-1].committed_at + timedelta(days=1)
    # a cutoff in the future still retains the keep_last floor (default 1)
    rep = reg.expire_snapshots(older_than=future)
    left = reg.snapshots()
    assert len(left) == 1
    assert left[0].snapshot_id == snaps[-1].snapshot_id
    assert len(rep["expired"]) == len(snaps) - 1
    # a cutoff before everything expires nothing
    past = snaps[0].committed_at - timedelta(days=1)
    assert reg.expire_snapshots(older_than=past)["expired"] == []


def test_expire_works_across_compaction_boundary(spark, tmp_out, no_dir_rename):
    """Expired snapshots whose manifests a compaction re-published are
    removed like any other — and the compacted survivors keep serving
    snapshots, lineage and resume."""
    _publish(spark, tmp_out, "old")
    _publish(spark, tmp_out, "new")
    for run_id in ("old", "new"):
        assert any(r["rewritten"] for r in compact_run(spark, tmp_out, run_id))
    reg = _reg(tmp_out)
    new_count = sum(1 for s in reg.snapshots() if s.run_id == "new")

    rep = reg.expire_snapshots(keep_last=new_count)
    assert rep["expired"]
    left = reg.snapshots()
    assert {s.run_id for s in left} == {"new"}
    # lineage of the survivor is complete (one row per partition per sink)
    lin = reg.lineage("new")
    assert lin.num_rows > 0
    assert sum(lin.column("row_count").to_pylist()) == N
    # expired lineage is gone
    assert reg.lineage("old").num_rows == 0
    # resume unaffected post-expiry-of-others
    assert reg.committed_sinks("new")


def test_expire_crash_midway_is_finished_by_a_rerun(
    spark, tmp_out, no_dir_rename, monkeypatch
):
    """Data first, metadata second: a crash after a few per-key deletes
    leaves every unfinished expiry enumerable from its manifests, so a
    second call removes every file and directory the first one left —
    one sink of a surviving run and a whole expired run alike."""
    for rid in ("p0", "p1"):
        _publish(spark, tmp_out, rid)
    reg = _reg(tmp_out)
    snaps = reg.snapshots()
    p1 = [s for s in snaps if s.run_id == "p1"]
    before = {
        os.path.join(root, f)
        for root, _, files in os.walk(os.path.join(tmp_out, "run_id=p1"))
        for f in files
    }
    real_remove = os.remove
    calls = [0]
    crash_at = [3]

    def crashing_remove(path, *a, **k):
        calls[0] += 1
        if calls[0] == crash_at[0]:
            raise OSError("injected crash inside expiry")
        return real_remove(path, *a, **k)

    monkeypatch.setattr(os, "remove", crashing_remove)
    with pytest.raises(OSError, match="injected"):
        reg.expire_snapshots(keep_last_runs=1)
    monkeypatch.setattr(os, "remove", real_remove)
    # the crash stopped before any manifest went: all p0 snapshots listed
    assert [s.snapshot_id for s in reg.snapshots()] == [s.snapshot_id for s in snaps]

    rep = reg.expire_snapshots(keep_last_runs=1)
    assert {e["run_id"] for e in rep["expired"]} == {"p0"}
    assert [s.snapshot_id for s in reg.snapshots()] == [s.snapshot_id for s in p1]
    assert not os.path.exists(os.path.join(tmp_out, "run_id=p0"))
    after = {
        os.path.join(root, f)
        for root, _, files in os.walk(tmp_out)
        for f in files
    }
    assert after == before  # the survivor's files, and nothing else

    # the same for one expired sink of a surviving run, crashing at its
    # second delete (a data file, or its manifest if it has one file)
    victim = p1[0]
    run_dir = os.path.join(tmp_out, "run_id=p1")
    assert read_manifest(run_dir, victim.sink)["files"]
    calls[0], crash_at[0] = 0, 2
    monkeypatch.setattr(os, "remove", crashing_remove)
    with pytest.raises(OSError, match="injected"):
        reg.expire_snapshots(keep_last=len(p1) - 1)
    monkeypatch.setattr(os, "remove", real_remove)
    assert victim.snapshot_id in {s.snapshot_id for s in reg.snapshots()}
    reg.expire_snapshots(keep_last=len(p1) - 1)
    assert [s.snapshot_id for s in reg.snapshots()] == [s.snapshot_id for s in p1[1:]]
    assert not os.path.exists(os.path.join(run_dir, f"sink={victim.sink}"))
    assert not os.path.exists(
        os.path.join(run_dir, "_manifests", f"sink={victim.sink}.json")
    )


def test_expire_keep_last_runs_is_run_aware(spark, tmp_out, no_dir_rename):
    """keep_last_runs retains every snapshot of the K newest RUNS — the
    tail daemon's retention unit (one poll == one run of up to |sinks|
    snapshots) — without counting snapshots."""
    for rid in ("p0", "p1", "p2"):
        _publish(spark, tmp_out, rid)
    reg = _reg(tmp_out)
    rep = reg.expire_snapshots(keep_last_runs=2)
    assert {e["run_id"] for e in rep["expired"]} == {"p0"}
    left = reg.snapshots()
    assert {s.run_id for s in left} == {"p1", "p2"}
    # BOTH surviving runs keep their full sink set
    per_run: dict[str, int] = {}
    for s in left:
        per_run[s.run_id] = per_run.get(s.run_id, 0) + 1
    assert per_run["p1"] == per_run["p2"] >= 2
    assert not os.path.exists(os.path.join(tmp_out, "run_id=p0"))
    # idempotent at the same cut
    assert reg.expire_snapshots(keep_last_runs=2)["expired"] == []


def test_expire_argument_validation(tmp_path):
    reg = Registrar(str(tmp_path / "_checkpoint"))
    with pytest.raises(ValueError, match="keep_last, older_than"):
        reg.expire_snapshots()
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        reg.expire_snapshots(keep_last=0)
    with pytest.raises(ValueError, match="keep_last_runs must be >= 1"):
        reg.expire_snapshots(keep_last_runs=0)
