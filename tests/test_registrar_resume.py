"""Kill/resume exactly-once test (SURVEY §3.4, FIXTURES.md §6).

The reference is at-least-once — a crash between ack and registry write
duplicates events on resume (/root/reference/publisher1.go:126 →
registrar.go:31-34). The north_rule demands exactly-once: kill after the
first sink commit, resume with the same run_id, assert no duplicates and no
loss per sink.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import (
    InjectedFailure,
    PipelineSpec,
    run_pipeline,
)
from logstash_forwarder_spark.plans.manifest import read_manifest
from logstash_forwarder_spark.plans.registrar import LineageRow, Registrar

from .oracle import oracle_pipeline, oracle_sink_source_counts

N_ROWS = 10_000


def _read_all_sinks(spark, out_dir, run_id):
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sinks = [d for d in os.listdir(run_dir) if d.startswith("sink=")]
    return spark.read.option("basePath", run_dir).parquet(
        *(os.path.join(run_dir, d) for d in sinks)
    )


def test_kill_after_first_sink_then_resume(spark, tmp_out, no_dir_rename):
    seqs = gen_sequences(spark, N_ROWS, num_partitions=8).cache()
    dim = gen_source_dim(spark)
    spec = PipelineSpec(out_dir=tmp_out, run_id="killrun", fail_after_sinks=1)

    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, spec)

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    done_after_crash = reg.committed_sinks("killrun")
    assert len(done_after_crash) >= 1  # at least the first commit landed

    # resume with the same run_id, no fault
    spec2 = PipelineSpec(out_dir=tmp_out, run_id="killrun", routes=spec.routes)
    res = run_pipeline(spark, seqs, dim, spec2)
    assert set(res.sinks_skipped) == done_after_crash

    got = _read_all_sinks(spark, tmp_out, "killrun").toPandas()
    # exactly-once: no duplicates, no loss
    assert len(got) == N_ROWS
    assert got.doc_id.is_unique

    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_pipeline(seqs.toPandas(), dim_map)
    pd.testing.assert_frame_equal(
        oracle_sink_source_counts(got), oracle_sink_source_counts(want), check_dtype=False
    )

    # lineage covers every published sink with correct totals
    lin = reg.lineage("killrun").to_pandas()
    per_sink = lin.groupby("sink").row_count.sum()
    got_per_sink = got.groupby("sink").doc_id.count()
    for s, n in got_per_sink.items():
        assert per_sink[s] == n
    seqs.unpersist()


def test_published_but_uncheckpointed_sink_is_redone(
    spark, tmp_out, no_dir_rename
):
    """Crash in the gap between atomic publish and checkpoint write (the
    reference's duplicate window, SURVEY §3.4): the resume must treat the
    unreferenced published manifest and its files as garbage and redo the
    sink exactly-once."""
    import shutil

    seqs = gen_sequences(spark, 2_000, num_partitions=4).cache()
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="gap"))

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    # simulate the crash gap: data published, checkpoint row missing
    victim = sorted(reg.committed_sinks("gap"))[0]
    os.remove(
        os.path.join(tmp_out, "_checkpoint", Registrar._commit_name("gap", victim))
    )
    assert victim not in reg.committed_sinks("gap")

    res = run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="gap"))
    assert victim in res.sinks_committed

    got = _read_all_sinks(spark, tmp_out, "gap").toPandas()
    assert len(got) == 2_000 and got.doc_id.is_unique
    seqs.unpersist()


def test_partial_staging_dir_from_crashed_attempt(spark, tmp_out, no_dir_rename):
    """A crash DURING the in-place data write leaves a partial sink dir: a
    data file that no manifest names. The next attempt must delete it and
    publish exactly once."""
    seqs = gen_sequences(spark, 1_000, num_partitions=2)
    dim = gen_source_dim(spark)
    run_dir = os.path.join(tmp_out, "run_id=stale")
    junk = os.path.join(run_dir, "sink=sink_dev", "part-00000-junk.parquet")
    os.makedirs(os.path.dirname(junk))
    with open(junk, "wb") as fh:
        fh.write(b"not a parquet file")

    res = run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="stale"))
    assert res.rows_staged == 1_000
    assert not os.path.exists(junk)
    got = _read_all_sinks(spark, tmp_out, "stale").toPandas()
    assert len(got) == 1_000 and got.doc_id.is_unique
    assert (
        sum(read_manifest(run_dir, s)["row_count"] for s in res.sinks_committed)
        == 1_000
    )


def test_registrar_atomic_and_idempotent(tmp_path):
    reg = Registrar(str(tmp_path / "ck"))
    reg.commit("r1", "sink_a", [LineageRow(0, 10, 100), LineageRow(1, 5, 50)])
    reg.commit("r1", "sink_a", [LineageRow(0, 10, 100), LineageRow(1, 5, 50)])  # re-commit
    reg.commit("r1", "sink_b", [LineageRow(0, 1, 2)])
    reg.commit("r2", "sink_a", [LineageRow(0, 7, 7)])

    assert reg.committed_sinks("r1") == {"sink_a", "sink_b"}
    assert reg.committed_sinks("r2") == {"sink_a"}
    assert reg.committed_sinks("r3") == set()

    lin = reg.lineage("r1").to_pandas()
    assert lin[lin.sink == "sink_a"].row_count.sum() == 15  # no dup from re-commit

    everything = reg.lineage()
    assert everything.num_rows == 4
    assert set(everything.column_names) == {
        "run_id",
        "sink",
        "partition_id",
        "row_count",
        "token_total",
        "committed_at",
    }


def test_resume_lookup_reads_only_the_runs_commit_files(tmp_path, monkeypatch):
    """The registrar is a keyed map: committed_sinks/lineage of one run read
    that run's commit files (plus the compaction index once one exists),
    never the whole commit history."""
    import pyarrow.parquet as pq

    reg = Registrar(str(tmp_path / "ck"))
    for i in range(200):
        reg.commit(f"other-{i}", "sink_a", [LineageRow(0, 1, 1)])
    reg.commit("R", "sink_a", [LineageRow(0, 3, 30)])
    reg.commit("R", "sink_b", [LineageRow(0, 4, 40)])

    reads: list[str] = []
    real_read = pq.read_table

    def counting_read(path, *args, **kwargs):
        reads.append(os.path.basename(path))
        return real_read(path, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting_read)

    def reads_of(lookup) -> list[str]:
        reads.clear()
        lookup()
        return sorted(reads)

    def assert_lookups_read(names: list[str]) -> None:
        assert reads_of(lambda: reg.committed_sinks("R")) == sorted(names)
        assert reads_of(lambda: reg.lineage("R")) == sorted(names)
        assert reg.committed_sinks("R") == {"sink_a", "sink_b"}
        assert sum(reg.lineage("R")["row_count"].to_pylist()) == 7

    assert_lookups_read([Registrar._commit_name("R", s) for s in ("sink_a", "sink_b")])
    reg.compact()
    assert_lookups_read([Registrar.INDEX_NAME])
    # a re-commit after compaction is a live file read beside the index
    reg.commit("R", "sink_b", [LineageRow(0, 4, 40)])
    assert_lookups_read([Registrar.INDEX_NAME, Registrar._commit_name("R", "sink_b")])


@pytest.mark.parametrize(
    "first, second",
    [
        (("a", "s"), ("a__b", "s")),
        (("run:" + "x" * 28 + "aaaaaaaa", "s"), ("run/" + "x" * 28 + "bbbbbbbb", "s")),
        (("r__x", "y"), ("r", "x__y")),
    ],
    ids=["run-prefix", "shared-32-sanitized", "sanitizer-pair"],
)
def test_keyed_lookup_is_exact_for_shared_name_prefixes(tmp_path, first, second):
    reg = Registrar(str(tmp_path / "ck"))
    reg.commit(*first, [LineageRow(0, 1, 10)])
    reg.commit(*second, [LineageRow(0, 2, 20)])
    for _ in ("live", "compacted"):
        for (run_id, sink), rows in ((first, 1), (second, 2)):
            assert reg.committed_sinks(run_id) == {sink}
            assert reg.lineage(run_id)["row_count"].to_pylist() == [rows]
        reg.compact()
