"""Iceberg-style snapshot log over the registrar: commit ordering,
VERSION AS OF / TIMESTAMP AS OF reads at run-commit granularity (one
snapshot per run, its id the run id, read through
``read_table(as_of=)``), and the log's survival of compaction, which
swaps the manifests that record it."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_table, run_pipeline
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
    # stable across re-listing
    assert reg.snapshots() == snaps


def _rows_per_run(df) -> dict[str, int]:
    return {r.run_id: r["count"] for r in df.groupBy("run_id").count().collect()}


def test_version_as_of_sees_prefix_of_commits(spark, tmp_out):
    _run(spark, tmp_out, run_id="r1")
    reg = _run(spark, tmp_out, run_id="r2")
    first, last = reg.snapshots()
    df_first = read_table(spark, tmp_out, as_of=first.run_id)
    sinks_first = {r.sink for r in df_first.select("sink").distinct().collect()}
    assert sinks_first == set(first.sinks)  # the whole run, every sink
    assert _rows_per_run(df_first) == {"r1": 3000}  # r2 not yet committed
    assert _rows_per_run(read_table(spark, tmp_out, as_of=last.run_id)) == {
        "r1": 3000,
        "r2": 3000,
    }


def test_timestamp_as_of_and_errors(spark, tmp_out):
    reg = _run(spark, tmp_out)
    [snap] = reg.snapshots()
    # TIMESTAMP AS OF includes every run whose instant is <= the requested
    # time: the run's one instant shows all its sinks at once
    df = read_table(spark, tmp_out, as_of=snap.committed_at)
    assert {r.sink for r in df.select("sink").distinct().collect()} == set(snap.sinks)
    # a timestamp strictly before the commit sees nothing
    with pytest.raises(ValueError, match="no published data"):
        read_table(
            spark, tmp_out, as_of=snap.committed_at - datetime.timedelta(seconds=1)
        )
    with pytest.raises(ValueError, match="not committed"):
        read_table(spark, tmp_out, as_of="otherrun")


def test_cross_run_snapshot_cut(spark, tmp_path):
    """A snapshot defines a global point-in-time cut: the table as of
    run1's snapshot holds no row of run2, and as of run2's snapshot it
    holds both runs whole."""
    out = str(tmp_path / "multi")
    _run(spark, out, run_id="r1")
    log2 = _run(spark, out, run_id="r2")
    assert [s.run_id for s in log2.snapshots()] == ["r1", "r2"]
    assert _rows_per_run(read_table(spark, out, as_of="r1")) == {"r1": 3000}
    assert _rows_per_run(read_table(spark, out, as_of="r2")) == {
        "r1": 3000,
        "r2": 3000,
    }


def _snapshot_log(reg):
    return [
        (s.run_id, s.sinks, s.committed_at, s.sequence_number)
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
                _rows_per_run(read_table(spark, tmp_out, as_of=s.run_id))
                for s in reg.snapshots()
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
    df1 = read_table(spark, tmp_out, as_of=pre[-1].run_id)
    assert _rows_per_run(df1) == {"snaprun": 3000}
    # at the newest snapshot run-2 is fully visible
    df2 = read_table(spark, tmp_out, as_of=snaps[-1].run_id)
    assert _rows_per_run(df2) == {"snaprun": 3000, "snaprun2": 1000}


def test_read_table_as_of_follows_commit_order(spark, tmp_out, no_dir_rename):
    """Runs committed as ``c``, ``a``, ``b`` — name order and commit order
    differ — are read in commit order: as of ``a`` the table holds exactly
    the rows of ``c`` and ``a``; a datetime cut equal to a run's
    ``committed_at`` includes that run; every cut reads the same rows
    before and after compaction; an unknown run id, an expired run id and
    a cut before any data raise."""
    dim = gen_source_dim(spark)
    sizes = {"c": 300, "a": 200, "b": 100}
    for run_id, n in sizes.items():
        run_pipeline(
            spark,
            gen_sequences(spark, n, num_partitions=2),
            dim,
            PipelineSpec(out_dir=tmp_out, run_id=run_id),
        )
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    snaps = reg.snapshots()
    assert [s.run_id for s in snaps] == ["c", "a", "b"]

    def cuts():
        return [
            sorted(
                (r.run_id, r.sink, r.doc_id)
                for r in read_table(spark, tmp_out, as_of=cut)
                .select("run_id", "sink", "doc_id")
                .collect()
            )
            for s in snaps
            for cut in (s.run_id, s.committed_at)
        ]

    before = cuts()
    assert _rows_per_run(read_table(spark, tmp_out, as_of="a")) == {"c": 300, "a": 200}
    at_a = read_table(spark, tmp_out, as_of=snaps[1].committed_at)
    assert _rows_per_run(at_a) == {"c": 300, "a": 200}
    for run_id in ("c", "a", "b"):
        assert any(r["rewritten"] for r in compact_run(spark, tmp_out, run_id))
    assert cuts() == before

    with pytest.raises(ValueError, match="not committed"):
        read_table(spark, tmp_out, as_of="nope")
    with pytest.raises(ValueError, match="no published data"):
        read_table(
            spark, tmp_out, as_of=snaps[0].committed_at - datetime.timedelta(microseconds=1)
        )
    assert reg.expire_snapshots(keep_last=2)["expired"] == ["c"]
    with pytest.raises(ValueError, match="not committed"):
        read_table(spark, tmp_out, as_of="c")
    assert _rows_per_run(read_table(spark, tmp_out, as_of="a")) == {"a": 200}


def test_read_table_keeps_run_and_sink_names_as_strings(spark, tmp_path):
    """Run ids and sink names that Spark would infer as numbers or dates
    from their directory names come back from ``read_table`` unchanged,
    as strings, and a filter on one finds its rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from logstash_forwarder_spark.plans.manifest import publish_run, sink_entry

    for i, run_ids in enumerate([("1", "2", "007"), ("2026-10-20",)]):
        out = str(tmp_path / f"out{i}")
        want = set()
        for run_id in run_ids:
            run_dir = os.path.join(out, f"run_id={run_id}")
            entries = []
            for sink in ("2024", "1.50"):
                f = os.path.join(f"sink={sink}", "part-0.parquet")
                os.makedirs(os.path.dirname(os.path.join(run_dir, f)))
                docs = [f"{run_id}/{sink}/{k}" for k in range(3)]
                pq.write_table(pa.table({"doc_id": docs}), os.path.join(run_dir, f))
                entries.append(sink_entry(sink, [f], [{"source": "s", "row_count": 3}]))
                want |= {(run_id, sink, d) for d in docs}
            publish_run(run_dir, entries)
        df = read_table(spark, out)
        assert dict(df.dtypes)["run_id"] == dict(df.dtypes)["sink"] == "string"
        assert {(r.run_id, r.sink, r.doc_id) for r in df.collect()} == want
        assert df.where(F.col("run_id") == run_ids[-1]).count() == 6
        assert df.where(F.col("sink") == "1.50").count() == 3 * len(run_ids)
