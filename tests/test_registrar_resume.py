"""Kill/resume exactly-once test (SURVEY §3.4, FIXTURES.md §6).

The reference is at-least-once — a crash between ack and registry write
duplicates events on resume (/root/reference/publisher1.go:126 →
registrar.go:31-34). The north_rule demands exactly-once: kill after the
data files are written and before the run's one commit swap, resume with
the same run_id, assert no duplicates and no loss per sink.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
from logstash_forwarder_spark.plans.manifest import read_run
from logstash_forwarder_spark.plans.registrar import LineageRow, Registrar

from .conftest import InjectedFailure
from .oracle import oracle_pipeline, oracle_sink_source_counts

N_ROWS = 10_000


def _read_all_sinks(spark, out_dir, run_id):
    run_dir = os.path.join(out_dir, f"run_id={run_id}")
    sinks = [d for d in os.listdir(run_dir) if d.startswith("sink=")]
    return spark.read.option("basePath", run_dir).parquet(
        *(os.path.join(run_dir, d) for d in sinks)
    )


def test_kill_at_run_swap_then_resume(
    spark, tmp_out, no_dir_rename, crash_at_run_swap
):
    seqs = gen_sequences(spark, N_ROWS, num_partitions=8).cache()
    dim = gen_source_dim(spark)
    spec = PipelineSpec(out_dir=tmp_out, run_id="killrun")

    crash_at_run_swap()
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, spec)

    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    assert reg.committed_sinks("killrun") == set()  # nothing committed

    # resume with the same run_id, no fault: the whole run is redone
    spec2 = PipelineSpec(out_dir=tmp_out, run_id="killrun", routes=spec.routes)
    res = run_pipeline(spark, seqs, dim, spec2)
    assert res.rows_staged == N_ROWS

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
    assert sum(e["row_count"] for e in read_run(run_dir)["sinks"]) == 1_000


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
    """The registrar is a keyed map: with 200 other runs committed,
    committed_sinks and lineage of one run open that run's
    ``_manifest.json`` and nothing else, and list no directory — never
    the whole commit history."""
    import builtins

    reg = Registrar(str(tmp_path / "_checkpoint"))
    for i in range(200):
        reg.commit(f"other-{i}", "sink_a", [LineageRow(0, 1, 1)])
    reg.commit("R", "sink_a", [LineageRow(0, 3, 30)])
    reg.commit("R", "sink_b", [LineageRow(0, 4, 40)])

    listed: list[str] = []
    opened: list[str] = []
    real_listdir, real_open = os.listdir, builtins.open

    def listdir(path="."):
        listed.append(os.path.relpath(path, tmp_path))
        return real_listdir(path)

    def open_(path, *args, **kwargs):
        opened.append(os.path.relpath(path, tmp_path))
        return real_open(path, *args, **kwargs)

    monkeypatch.setattr(os, "listdir", listdir)
    monkeypatch.setattr(os, "scandir", listdir)
    monkeypatch.setattr(builtins, "open", open_)

    def access(lookup):
        listed.clear()
        opened.clear()
        got = lookup()
        return got, listed[:], opened[:]

    run_manifest = os.path.join("run_id=R", "_manifest.json")
    got, ls, reads = access(lambda: reg.committed_sinks("R"))
    assert got == {"sink_a", "sink_b"}
    assert ls == [] and reads == [run_manifest]
    got, ls, reads = access(lambda: reg.lineage("R"))
    assert sum(got["row_count"].to_pylist()) == 7
    assert ls == [] and reads == [run_manifest]


def test_commit_lists_and_reads_nothing(tmp_path, monkeypatch):
    """Registrar.commit, the per-sink shim, is one read and one swap: no
    directory listing, and the only file opened for reading is its own
    run's manifest, however many commits the table already holds."""
    import builtins

    reg = Registrar(str(tmp_path / "_checkpoint"))
    for i in range(20):
        reg.commit(f"r{i}", "sink_a", [LineageRow(0, 1, 1)])
    real_open = builtins.open
    reads: list[str] = []

    def no_listing(*a, **k):
        raise AssertionError("commit listed a directory")

    def tracking(path, mode="r", *args, **kwargs):
        if not set(mode) & set("wxa"):
            reads.append(os.path.relpath(path, tmp_path))
        return real_open(path, mode, *args, **kwargs)

    monkeypatch.setattr(os, "listdir", no_listing)
    monkeypatch.setattr(os, "scandir", no_listing)
    monkeypatch.setattr(builtins, "open", tracking)
    reg.commit("r-new", "sink_a", [LineageRow(0, 2, 20)], files=["f"])
    path = reg.commit("r-new", "sink_b", [LineageRow(0, 3, 30)])
    monkeypatch.undo()
    run_manifest = os.path.join("run_id=r-new", "_manifest.json")
    assert reads == [run_manifest, run_manifest]
    assert path == str(tmp_path / run_manifest)
    assert reg.committed_sinks("r-new") == {"sink_a", "sink_b"}
    assert reg.lineage("r-new")["row_count"].to_pylist() == [2, 3]


@pytest.mark.parametrize(
    "first, second",
    [
        (("a", "s"), ("a__b", "s")),
        (("run:" + "x" * 28 + "aaaaaaaa", "s"), ("run;" + "x" * 28 + "bbbbbbbb", "s")),
        (("r__x", "y"), ("r", "x__y")),
    ],
    ids=["run-prefix", "shared-32-sanitized", "sanitizer-pair"],
)
def test_keyed_lookup_is_exact_for_shared_name_prefixes(tmp_path, first, second):
    """Run ids that share a prefix, or differ only in characters a file
    name sanitizer would mangle, are distinct commit keys."""
    reg = Registrar(str(tmp_path / "ck"))
    reg.commit(*first, [LineageRow(0, 1, 10)])
    reg.commit(*second, [LineageRow(0, 2, 20)])
    for (run_id, sink), rows in ((first, 1), (second, 2)):
        assert reg.committed_sinks(run_id) == {sink}
        assert reg.lineage(run_id)["row_count"].to_pylist() == [rows]
    assert {s.run_id for s in reg.snapshots()} == {first[0], second[0]}


def test_failed_swap_leaves_no_file_a_glob_reader_counts(tmp_path, monkeypatch):
    """A crash inside a commit's single-file swap must not leave a temp
    file that an external glob reader takes for a commit: DuckDB's
    ``run_id=*/*.json`` glob (it matches dot-files) must list exactly the
    published manifests, and the failed commit is not one."""
    import duckdb

    real = os.replace

    def fail_next_replace() -> None:
        def failing(src, dst, *a, **k):
            monkeypatch.setattr(os, "replace", real)
            raise OSError("injected failure inside the swap")

        monkeypatch.setattr(os, "replace", failing)

    reg = Registrar(str(tmp_path / "_checkpoint"))
    reg.commit("r1", "sink_a", [LineageRow(0, 10, 100)])
    for fail in (
        lambda: reg.commit("r1", "sink_b", [LineageRow(0, 5, 50)]),
        lambda: reg.commit("r2", "sink_a", [LineageRow(0, 7, 70)]),
    ):
        fail_next_replace()
        with pytest.raises(OSError, match="injected"):
            fail()

    con = duckdb.connect()
    manifests = con.sql(
        f"SELECT file FROM glob('{tmp_path}/run_id=*/*.json')"
    )
    assert [os.path.relpath(f, tmp_path) for (f,) in manifests.fetchall()] == [
        os.path.join("run_id=r1", "_manifest.json")
    ]
    assert reg.committed_sinks("r1") == {"sink_a"}
    assert reg.committed_sinks("r2") == set()
    assert reg.lineage()["row_count"].to_pylist() == [10]
