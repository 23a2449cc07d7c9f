"""Registrar snapshot expiry + data GC (Iceberg ``expire_snapshots`` /
``retainLast`` parity; VERDICT r6 task 7).

At a poll-per-run tail cadence the snapshot log grows without bound —
expiry is the retention half of the maintenance pair next to
``compact()``. Everything runs under the no-directory-rename shim: the
metadata rewrite is a single-FILE swap, data GC is per-key deletes +
empty-dir rmdir only."""

from __future__ import annotations

import os
from datetime import timedelta

import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
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

    rep = reg.expire_snapshots(keep_last=new_count, out_dir=tmp_out)
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
    rep2 = reg.expire_snapshots(keep_last=new_count, out_dir=tmp_out)
    assert rep2["expired"] == [] and rep2["data_files_removed"] == 0


def test_expire_older_than_respects_retain_floor(spark, tmp_out, no_dir_rename):
    _publish(spark, tmp_out, "only")
    reg = _reg(tmp_out)
    snaps = reg.snapshots()
    future = snaps[-1].committed_at + timedelta(days=1)
    # a cutoff in the future still retains the keep_last floor (default 1)
    rep = reg.expire_snapshots(older_than=future, out_dir=tmp_out)
    left = reg.snapshots()
    assert len(left) == 1
    assert left[0].snapshot_id == snaps[-1].snapshot_id
    assert len(rep["expired"]) == len(snaps) - 1
    # a cutoff before everything expires nothing
    past = snaps[0].committed_at - timedelta(days=1)
    assert reg.expire_snapshots(older_than=past, out_dir=tmp_out)["expired"] == []


def test_expire_works_across_compaction_boundary(spark, tmp_out, no_dir_rename):
    """Expired snapshots whose lineage rows live in the compaction INDEX
    (not live commit files) must be removed from the index — and
    surviving index rows must keep serving snapshots/lineage."""
    _publish(spark, tmp_out, "old")
    _publish(spark, tmp_out, "new")
    reg = _reg(tmp_out)
    assert reg.compact() > 0  # everything now lives in _index.parquet
    new_count = sum(1 for s in reg.snapshots() if s.run_id == "new")

    rep = reg.expire_snapshots(keep_last=new_count, out_dir=tmp_out)
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


def test_expire_keep_last_runs_is_run_aware(spark, tmp_out, no_dir_rename):
    """keep_last_runs retains every snapshot of the K newest RUNS — the
    tail daemon's retention unit (one poll == one run of up to |sinks|
    snapshots) — without counting snapshots."""
    for rid in ("p0", "p1", "p2"):
        _publish(spark, tmp_out, rid)
    reg = _reg(tmp_out)
    rep = reg.expire_snapshots(keep_last_runs=2, out_dir=tmp_out)
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
    assert reg.expire_snapshots(keep_last_runs=2, out_dir=tmp_out)["expired"] == []


def test_expire_argument_validation(tmp_path):
    reg = Registrar(str(tmp_path / "_checkpoint"))
    with pytest.raises(ValueError, match="keep_last, older_than"):
        reg.expire_snapshots()
    with pytest.raises(ValueError, match="keep_last must be >= 1"):
        reg.expire_snapshots(keep_last=0)
    with pytest.raises(ValueError, match="keep_last_runs must be >= 1"):
        reg.expire_snapshots(keep_last_runs=0)
