"""Registrar snapshot expiry + data GC (Iceberg ``expire_snapshots`` /
``retainLast`` parity; VERDICT r6 task 7).

At a poll-per-run tail cadence the snapshot log grows without bound —
expiry is the retention half of the maintenance pair next to compaction.
A snapshot is a run, so expiry removes whole runs. Everything runs under
the no-directory-rename shim: expiry is per-key deletes (data first, the
run manifest last) + empty-dir rmdir only."""

from __future__ import annotations

import os
from datetime import timedelta

import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_table, run_pipeline
from logstash_forwarder_spark.plans.compact import compact_run
from logstash_forwarder_spark.plans.manifest import publish_run
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
    old_snaps = [s for s in snaps if s.run_id == "old"]
    assert len(old_snaps) == 1 and len(snaps) == 2

    rep = reg.expire_snapshots(keep_last=1)
    assert rep["expired"] == ["old"]
    assert rep["data_files_removed"] > 0

    # metadata: only the new run's snapshots survive, sequence renumbered
    left = reg.snapshots()
    assert {s.run_id for s in left} == {"new"}
    assert [s.sequence_number for s in left] == list(range(len(left)))
    # data: the expired run's dir is fully gone (per-key GC + empty rmdir)
    assert not os.path.exists(os.path.join(tmp_out, "run_id=old"))

    # time travel to a SURVIVING snapshot is intact
    assert read_table(spark, tmp_out, as_of=left[-1].run_id).count() == N
    # ... and to an expired one raises, like Iceberg
    with pytest.raises(ValueError, match="not committed"):
        read_table(spark, tmp_out, as_of=old_snaps[0].run_id)

    # resume of the surviving run is unaffected: identical re-run skips
    res = run_pipeline(
        spark,
        gen_sequences(spark, N, num_partitions=4),
        gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id="new"),
    )
    assert not res.sinks_committed and res.rows_staged == 0

    # idempotent: nothing left to expire at the same cut
    rep2 = reg.expire_snapshots(keep_last=1)
    assert rep2["expired"] == [] and rep2["data_files_removed"] == 0


def test_expire_older_than_respects_retain_floor(spark, tmp_out, no_dir_rename):
    _publish(spark, tmp_out, "first")
    _publish(spark, tmp_out, "second")
    reg = _reg(tmp_out)
    snaps = reg.snapshots()
    future = snaps[-1].committed_at + timedelta(days=1)
    # a cutoff in the future still retains the keep_last floor (default 1)
    rep = reg.expire_snapshots(older_than=future)
    left = reg.snapshots()
    assert len(left) == 1
    assert left[0].run_id == snaps[-1].run_id
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

    rep = reg.expire_snapshots(keep_last=1)
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
    leaves the unfinished run enumerable from its manifest, so a second
    call removes every file and directory the first one left."""
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

    def crashing_remove(path, *a, **k):
        calls[0] += 1
        if calls[0] == 3:
            raise OSError("injected crash inside expiry")
        return real_remove(path, *a, **k)

    monkeypatch.setattr(os, "remove", crashing_remove)
    with pytest.raises(OSError, match="injected"):
        reg.expire_snapshots(keep_last=1)
    monkeypatch.setattr(os, "remove", real_remove)
    # the crash stopped before the manifest went: p0 is still listed
    assert reg.snapshots() == snaps

    rep = reg.expire_snapshots(keep_last=1)
    assert rep["expired"] == ["p0"]
    assert [s.run_id for s in reg.snapshots()] == [s.run_id for s in p1]
    assert not os.path.exists(os.path.join(tmp_out, "run_id=p0"))
    after = {
        os.path.join(root, f)
        for root, _, files in os.walk(tmp_out)
        for f in files
    }
    assert after == before  # the survivor's files, and nothing else


def test_expire_keep_last_counts_runs(spark, tmp_out, no_dir_rename):
    """keep_last counts RUNS — the tail daemon's retention unit (one poll
    == one run) — and every surviving run keeps its full sink set. The
    newest run with a ``tail`` block, which holds the tail loop's
    offsets, is never expired, however many runs come after it."""
    tail = {"poll": 0, "files": []}
    publish_run(os.path.join(tmp_out, "run_id=t-p0"), [], tail)
    for rid in ("p0", "p1", "p2"):
        _publish(spark, tmp_out, rid)
    reg = _reg(tmp_out)
    rep = reg.expire_snapshots(keep_last=2)
    assert rep["expired"] == ["p0"]
    left = reg.snapshots()
    assert [s.run_id for s in left] == ["t-p0", "p1", "p2"]
    assert len(left[1].sinks) == len(left[2].sinks) == 4
    assert not os.path.exists(os.path.join(tmp_out, "run_id=p0"))
    assert reg.tail() == tail
    # idempotent at the same cut; the tail run survives keep_last=1 too
    assert reg.expire_snapshots(keep_last=2)["expired"] == []
    reg.expire_snapshots(keep_last=1)
    assert [s.run_id for s in reg.snapshots()] == ["t-p0", "p2"]


def test_expire_argument_validation(tmp_path):
    reg = Registrar(str(tmp_path / "_checkpoint"))
    with pytest.raises(ValueError, match="keep_last and/or older_than"):
        reg.expire_snapshots()
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        reg.expire_snapshots(keep_last=0)


def test_tail_and_expiry_follow_the_highest_poll(tmp_path):
    """The tail resume point is the highest poll number, not the newest
    ``committed_at``: with the clock stepped back between polls 0 and 1,
    ``tail()`` returns poll 1 and ``keep_last=1`` keeps its run."""
    reg = Registrar(str(tmp_path / "_checkpoint"))
    tails = {p: {"poll": p, "files": []} for p in (0, 1)}
    publish_run(str(tmp_path / "run_id=t-p0"), [], tails[0], "2026-01-01T00:00:02+00:00")
    publish_run(str(tmp_path / "run_id=t-p1"), [], tails[1], "2026-01-01T00:00:01+00:00")
    assert [s.run_id for s in reg.snapshots()] == ["t-p1", "t-p0"]
    assert reg.tail() == tails[1]
    assert reg.expire_snapshots(keep_last=1)["expired"] == []
    assert reg.tail() == tails[1]
