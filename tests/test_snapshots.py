"""Iceberg-style snapshot log over the registrar: commit ordering,
VERSION AS OF / TIMESTAMP AS OF reads at sink-commit granularity."""

from __future__ import annotations

import os

import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
from logstash_forwarder_spark.plans.registrar import Registrar


def _run(spark, tmp_out, run_id="snaprun"):
    seqs = gen_sequences(spark, 3000, num_partitions=4)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id=run_id))
    return Registrar(os.path.join(tmp_out, "_checkpoint"))


def test_snapshot_ordering_and_current(spark, tmp_out):
    reg = _run(spark, tmp_out)
    snaps = reg.snapshots()
    assert len(snaps) >= 2  # one per committed sink
    assert [s.sequence_number for s in snaps] == list(range(len(snaps)))
    assert all(
        a.committed_at <= b.committed_at for a, b in zip(snaps, snaps[1:])
    )
    assert reg.current().snapshot_id == snaps[-1].snapshot_id
    # stable across re-listing
    assert [s.snapshot_id for s in reg.snapshots()] == [
        s.snapshot_id for s in snaps
    ]


def test_version_as_of_sees_prefix_of_commits(spark, tmp_out):
    reg = _run(spark, tmp_out)
    snaps = reg.snapshots()
    first, last = snaps[0], snaps[-1]
    df_first = reg.read_as_of(spark, tmp_out, "snaprun", snapshot_id=first.snapshot_id)
    df_full = reg.read_as_of(spark, tmp_out, "snaprun", snapshot_id=last.snapshot_id)
    sinks_first = {r.sink for r in df_first.select("sink").distinct().collect()}
    sinks_full = {r.sink for r in df_full.select("sink").distinct().collect()}
    assert sinks_first == {first.sink}
    assert sinks_full == {s.sink for s in snaps}
    assert df_first.count() < df_full.count()


def test_timestamp_as_of_and_errors(spark, tmp_out):
    reg = _run(spark, tmp_out)
    snaps = reg.snapshots()
    # TIMESTAMP AS OF includes every commit whose instant ties <= the
    # requested time — one pipeline run publishes with a shared lineage
    # write instant, so the whole run is one timestamp-travel transaction
    df = reg.read_as_of(spark, tmp_out, "snaprun", as_of=snaps[0].committed_at)
    expect = {s.sink for s in snaps if s.committed_at <= snaps[0].committed_at}
    assert {r.sink for r in df.select("sink").distinct().collect()} == expect
    # a timestamp strictly before the first commit sees nothing
    import datetime

    with pytest.raises(ValueError, match="no committed sink"):
        reg.read_as_of(
            spark,
            tmp_out,
            "snaprun",
            as_of=snaps[0].committed_at - datetime.timedelta(seconds=1),
        )
    with pytest.raises(ValueError, match="unknown snapshot_id"):
        reg.read_as_of(spark, tmp_out, "snaprun", snapshot_id="nope")
    with pytest.raises(ValueError, match="no committed sink"):
        reg.read_as_of(spark, tmp_out, "otherrun")


def test_mixed_writer_commits_sort_and_compare(tmp_path):
    """Driver-written (pyarrow, tz-aware) and adopted executor-style
    (tz-naive) commit files must coexist: snapshots() sorts the mixed log
    and read_as_of's timestamp filter compares across both."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from logstash_forwarder_spark.plans.registrar import LineageRow, Registrar

    reg = Registrar(str(tmp_path / "_checkpoint"))
    reg.commit("m1", "sink_a", [LineageRow(0, 10, 100)])  # tz-aware path

    naive = pa.Table.from_pydict(
        {
            "run_id": ["m1"],
            "sink": ["sink_b"],
            "partition_id": pa.array([0], pa.int32()),
            "row_count": pa.array([5], pa.int64()),
            "token_total": pa.array([50], pa.int64()),
            "committed_at": pa.array(
                [datetime.datetime(2030, 1, 1)], pa.timestamp("us")  # tz-NAIVE
            ),
        }
    )
    src = str(tmp_path / "naive.parquet")
    pq.write_table(naive, src)
    reg.commit_file("m1", "sink_b", src)

    snaps = reg.snapshots()
    assert [s.sink for s in snaps] == ["sink_a", "sink_b"]  # 2030 sorts last
    assert all(s.committed_at.tzinfo is not None for s in snaps)


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
    with pytest.raises(ValueError, match="no committed sink"):
        log2.read_as_of(spark, out, "r2", snapshot_id=r1_last.snapshot_id)
    df = log2.read_as_of(spark, out, "r2", snapshot_id=r2_last.snapshot_id)
    assert df.count() > 0
    # and r1's data read at r2's (later) cut is fully visible
    assert log1.read_as_of(spark, out, "r1", snapshot_id=r2_last.snapshot_id).count() > 0


def test_compaction_preserves_everything(spark, tmp_out):
    """Registrar.compact() (Iceberg manifest-list compaction): many commit
    files fold into ONE atomically-swapped index; resume state, lineage,
    the snapshot log (ids, order, timestamps), and time travel to a
    pre-compaction snapshot are all identical before and after."""
    import pyarrow.compute as pc

    from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim

    reg = _run(spark, tmp_out)  # run 1
    seqs = gen_sequences(spark, 1000, num_partitions=2)
    run_pipeline(
        spark, seqs, gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id="snaprun2"),
    )

    before_snaps = [(s.snapshot_id, s.run_id, s.sink, s.committed_at, s.sequence_number) for s in reg.snapshots()]
    before_sinks1 = reg.committed_sinks("snaprun")
    before_sinks2 = reg.committed_sinks("snaprun2")
    before_lineage = sorted(map(tuple, reg.lineage().to_pylist()))
    old_snap = reg.snapshots()[0]
    before_travel = sorted(
        map(tuple, reg.read_as_of(spark, tmp_out, "snaprun",
                                  snapshot_id=old_snap.snapshot_id).collect())
    )

    n = reg.compact()
    assert n == len(before_snaps)
    files = os.listdir(reg.path)
    assert files == [Registrar.INDEX_NAME]  # many files -> one

    assert [(s.snapshot_id, s.run_id, s.sink, s.committed_at, s.sequence_number) for s in reg.snapshots()] == before_snaps
    assert reg.committed_sinks("snaprun") == before_sinks1
    assert reg.committed_sinks("snaprun2") == before_sinks2
    assert sorted(map(tuple, reg.lineage().to_pylist())) == before_lineage
    after_travel = sorted(
        map(tuple, reg.read_as_of(spark, tmp_out, "snaprun",
                                  snapshot_id=old_snap.snapshot_id).collect())
    )
    assert after_travel == before_travel

    # compact is idempotent on an already-compacted dir
    assert reg.compact() == 0
    assert sorted(map(tuple, reg.lineage().to_pylist())) == before_lineage


def test_commits_after_compaction_and_override(spark, tmp_out):
    """New commits after compaction appear alongside the index; a
    re-commit of a compacted (run, sink) OVERRIDES its index rows (same
    deterministic filename, live file wins); resume still skips."""
    from logstash_forwarder_spark.plans.registrar import LineageRow

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    reg.commit("r1", "sinkA", [LineageRow(0, 10, 100)])
    reg.commit("r1", "sinkB", [LineageRow(0, 20, 200)])
    reg.compact()

    # new commit post-compaction
    reg.commit("r2", "sinkA", [LineageRow(0, 5, 50)])
    assert reg.committed_sinks("r1") == {"sinkA", "sinkB"}
    assert reg.committed_sinks("r2") == {"sinkA"}
    snaps = reg.snapshots()
    assert len(snaps) == 3

    # override: re-commit a compacted pair with different numbers
    reg.commit("r1", "sinkA", [LineageRow(0, 11, 111)])
    t = reg.lineage("r1")
    rows = {
        (s, rc) for s, rc in zip(
            t.column("sink").to_pylist(), t.column("row_count").to_pylist()
        )
    }
    assert rows == {("sinkA", 11), ("sinkB", 20)}  # 10 replaced by 11
    assert len(reg.snapshots()) == 3  # same identity, no dup
    # second compaction folds the live files back in, prunes overridden rows
    reg.compact()
    t = reg.lineage("r1")
    rows = {
        (s, rc) for s, rc in zip(
            t.column("sink").to_pylist(), t.column("row_count").to_pylist()
        )
    }
    assert rows == {("sinkA", 11), ("sinkB", 20)}


def test_time_travel_across_compaction_boundary(spark, tmp_out):
    """A VERSION AS OF cut can land between compacted (index-sourced) and
    post-compaction (live-file) snapshots: the global order must interleave
    both sources correctly and the read must resolve each side's sinks."""
    reg = _run(spark, tmp_out)  # run 1 (several sink commits)
    reg.compact()

    from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim

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
    assert df1.count() > 0
    with pytest.raises(ValueError, match="no committed sink"):
        reg.read_as_of(spark, tmp_out, "snaprun2", snapshot_id=cut)
    # at the newest snapshot run-2 is fully visible
    df2 = reg.read_as_of(
        spark, tmp_out, "snaprun2", snapshot_id=snaps[-1].snapshot_id
    )
    assert df2.count() == 1000
