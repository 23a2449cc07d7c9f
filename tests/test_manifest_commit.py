"""The manifest commit protocol (plans/manifest.py).

Every pipeline test runs under the ``no_dir_rename`` shim (tests/conftest.py)
that makes `os.replace` RAISE on directories — proving the whole
publish/commit/resume/time-travel cycle needs only single-file atomic
swaps, the primitive object stores can provide. The resolver tests need only
the filesystem."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_table, run_pipeline
from logstash_forwarder_spark.plans.compact import compact_run
from logstash_forwarder_spark.plans.manifest import (
    find_sink,
    publish_run,
    read_run,
    resolve_sink_paths,
    sink_entry,
)
from logstash_forwarder_spark.plans.registrar import Registrar

from .conftest import InjectedFailure
from .oracle import oracle_pipeline, oracle_sink_source_counts

N = 2_000


def _spec(tmp_out, run_id, **kw):
    return PipelineSpec(out_dir=tmp_out, run_id=run_id, **kw)


def _entry(tmp_out, run_id, sink):
    return find_sink(read_run(os.path.join(tmp_out, f"run_id={run_id}")), sink)


def _all_rows(spark, tmp_out, run_id):
    return read_table(spark, tmp_out).where(F.col("run_id") == run_id)


def _touch_sink_files(run_dir, sink, names):
    d = os.path.join(run_dir, f"sink={sink}")
    os.makedirs(d, exist_ok=True)
    for name in names:
        open(os.path.join(d, name), "wb").close()
    return [os.path.join(f"sink={sink}", name) for name in names]


def test_resolve_clean_sink_to_its_directory(tmp_path):
    """No orphans: the sink resolves to ONE directory path (hidden write
    residue such as checksum files does not count)."""
    run_dir = str(tmp_path / "run_id=r")
    files = _touch_sink_files(run_dir, "a", ["part-0.parquet", "part-1.parquet"])
    _touch_sink_files(run_dir, "a", [".part-0.parquet.crc"])
    publish_run(run_dir, [sink_entry("a", files, [])])
    assert resolve_sink_paths(run_dir, read_run(run_dir)["sinks"]) == [
        os.path.join(run_dir, "sink=a")
    ]


def test_resolve_sink_with_orphan_to_manifest_files(tmp_path):
    """An orphan beside the committed files: the sink resolves to exactly
    the manifest's files, so the orphan stays invisible."""
    run_dir = str(tmp_path / "run_id=r")
    files = _touch_sink_files(run_dir, "a", ["part-0.parquet", "part-1.parquet"])
    publish_run(run_dir, [sink_entry("a", files, [])])
    _touch_sink_files(run_dir, "a", ["part-orphan.parquet"])
    assert sorted(resolve_sink_paths(run_dir, read_run(run_dir)["sinks"])) == sorted(
        os.path.join(run_dir, f) for f in files
    )


def test_resolve_empty_or_uncommitted_sink_to_nothing(tmp_path):
    """An entry with no files resolves to no path; a sink with files on
    disk but no entry in the run manifest, and a run with no manifest,
    have no entry to resolve."""
    run_dir = str(tmp_path / "run_id=r")
    publish_run(run_dir, [sink_entry("empty", [], [])])
    _touch_sink_files(run_dir, "uncommitted", ["part-0.parquet"])
    assert resolve_sink_paths(run_dir, read_run(run_dir)["sinks"]) == []
    assert find_sink(read_run(run_dir), "uncommitted") is None
    assert read_run(str(tmp_path / "run_id=never")) is None


def test_run_manifest_read_with_hive_discovery(tmp_path):
    """DuckDB's default ``read_json`` over ``run_id=*/_manifest.json``
    discovers ``run_id`` from the path, and the document has no key that
    the partition value shadows: every run's sinks come back under their
    own run id, a run with offsets and no sinks included."""
    import duckdb

    reg = Registrar(str(tmp_path / "_checkpoint"))
    reg.commit("r1", "sink_a", [], files=["sink=sink_a/f1"], sources=[
        {"source": "s", "row_count": 3, "token_total": 9, "max_tokens": 4}
    ])
    reg.commit("r1", "sink_b", [], files=["sink=sink_b/f2"], sources=[
        {"source": "s", "row_count": 2, "token_total": 2, "max_tokens": 1}
    ])
    reg.commit("r2", "sink_a", [], files=["sink=sink_a/f3"], sources=[
        {"source": "t", "row_count": 5, "token_total": 5, "max_tokens": 1}
    ])
    tail = {"poll": 0, "files": [{"file": "/x.log", "resume_offset": 4, "base_line": 1,
                                  "head_bytes": 4, "head_digest": "ab"}]}
    publish_run(str(tmp_path / "run_id=r3"), [], tail)
    rows = duckdb.sql(
        "SELECT run_id, s.sink, s.row_count FROM (SELECT run_id, unnest(sinks) AS s "
        f"FROM read_json('{tmp_path}/run_id=*/_manifest.json')) ORDER BY ALL"
    ).fetchall()
    assert rows == [("r1", "sink_a", 3), ("r1", "sink_b", 2), ("r2", "sink_a", 5)]
    runs = duckdb.sql(
        f"SELECT run_id, tail.poll FROM read_json('{tmp_path}/run_id=*/_manifest.json') "
        "ORDER BY run_id"
    ).fetchall()
    assert runs == [("r1", None), ("r2", None), ("r3", 0)]


def test_manifest_run_resume_exactly_once(spark, tmp_out, no_dir_rename):
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "m1"))
    assert len(res.sinks_committed) == 4 and res.rows_staged == N
    # identical rerun: the run is committed, nothing is re-staged
    res2 = run_pipeline(spark, seqs, dim, _spec(tmp_out, "m1"))
    assert res2.sinks_committed == [] and res2.rows_staged == 0
    # published data complete and duplicate-free; lineage agrees
    got = _all_rows(spark, tmp_out, "m1")
    n, nd = got.agg(
        F.count(F.lit(1)), F.countDistinct("doc_id")
    ).first()
    assert (n, nd) == (N, N)
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    lin = reg.lineage("m1")
    assert sum(lin.column("row_count").to_pylist()) == N
    # per-sink manifest row_count matches the published reality
    by_sink = {r["sink"]: r["n"] for r in got.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    for sink, want in by_sink.items():
        assert _entry(tmp_out, "m1", sink)["row_count"] == want


def _check_metrics(res, seqs, dim):
    """The run's ``_metrics`` equals the oracle's per-(sink, source)
    counts of the input."""
    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_sink_source_counts(oracle_pipeline(seqs.toPandas(), dim_map))
    got = pq.read_table(res.metrics_path).to_pandas()
    got = got.sort_values(["sink", "source"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_manifest_kill_resume(spark, tmp_out, no_dir_rename, crash_at_run_swap):
    """On both backends, a crash at the run's one swap — after its data
    files and its ``_metrics`` are written — leaves nothing visible to
    ``read_table``, the snapshot log, the lineage or the resume lookup;
    the re-run commits every row exactly once, with ``_metrics`` equal to
    the oracle."""
    dim = gen_source_dim(spark)
    for backend in ("spark", "local"):
        out = os.path.join(tmp_out, backend)
        seqs = gen_sequences(spark, N)
        if backend == "local":
            seqs = spark.createDataFrame(seqs.toArrow(), seqs.schema)
        crash_at_run_swap()
        with pytest.raises(InjectedFailure):
            run_pipeline(spark, seqs, dim, _spec(out, "mk"))
        run_dir = os.path.join(out, "run_id=mk")
        assert glob.glob(os.path.join(run_dir, "sink=*", "*.parquet"))
        assert os.path.exists(os.path.join(run_dir, "_metrics", "part-00000.parquet"))
        reg = Registrar(os.path.join(out, "_checkpoint"))
        assert reg.snapshots() == [] and reg.committed_sinks("mk") == set()
        assert reg.lineage().num_rows == 0
        with pytest.raises(ValueError, match="no published data"):
            read_table(spark, out)
        res = run_pipeline(spark, seqs, dim, _spec(out, "mk"))
        assert res.backend == backend
        assert len(res.sinks_committed) == 4 and res.rows_staged == N
        got = read_table(spark, out)
        n, nd = got.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).first()
        assert (n, nd) == (N, N)
        assert sum(reg.lineage("mk").column("row_count").to_pylist()) == N
        assert [s.run_id for s in reg.snapshots()] == ["mk"]
        _check_metrics(res, seqs, dim)


def test_manifest_crash_before_commit_swap_is_redone(
    spark, tmp_out, no_dir_rename, crash_at_run_swap
):
    """The data files of a run whose swap a crash pre-empted are orphans:
    resume deletes every one of them before it redoes the run, and a
    committed run beside it is untouched."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, _spec(tmp_out, "ok"))
    ok_files = sorted(glob.glob(os.path.join(tmp_out, "run_id=ok", "**"), recursive=True))
    crash_at_run_swap()
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "mw"))
    orphans = glob.glob(os.path.join(tmp_out, "run_id=mw", "sink=*", "*.parquet"))
    assert orphans
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "mw"))
    assert res.rows_staged == N
    assert not any(os.path.exists(f) for f in orphans)
    got = _all_rows(spark, tmp_out, "mw")
    n, nd = got.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).first()
    assert (n, nd) == (N, N)
    assert sorted(glob.glob(os.path.join(tmp_out, "run_id=ok", "**"), recursive=True)) == ok_files


@pytest.mark.parametrize("backend", ["spark", "local"])
def test_one_commit_swap_per_run(spark, tmp_out, no_dir_rename, monkeypatch, backend):
    """A run makes exactly one ``publish_file`` swap, its manifest's, on
    both backends; its ``_metrics`` is already written when the swap
    runs, and nothing lands under ``_checkpoint/``. A call on the
    committed run writes no file and swaps nothing."""
    from logstash_forwarder_spark.plans import manifest

    swaps: list[str] = []
    real = manifest.publish_file
    metrics = os.path.join(tmp_out, "run_id=one", "_metrics", "part-00000.parquet")
    metrics_first: list[bool] = []

    def counting(final, data):
        swaps.append(os.path.relpath(final, tmp_out))
        metrics_first.append(os.path.exists(metrics))
        return real(final, data)

    monkeypatch.setattr(manifest, "publish_file", counting)
    seqs = gen_sequences(spark, N)
    if backend == "local":
        seqs = spark.createDataFrame(seqs.toArrow(), seqs.schema)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "one"))
    assert res.backend == backend and len(res.sinks_committed) == 4
    assert swaps == [os.path.join("run_id=one", "_manifest.json")]
    assert metrics_first == [True]
    swaps.clear()
    files = sorted(glob.glob(os.path.join(tmp_out, "**"), recursive=True))
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "one"))
    assert res.sinks_committed == [] and swaps == []
    assert sorted(glob.glob(os.path.join(tmp_out, "**"), recursive=True)) == files
    ckpt = os.path.join(tmp_out, "_checkpoint")
    assert not os.path.exists(ckpt) or os.listdir(ckpt) == []


def test_manifest_orphan_files_invisible(spark, tmp_out, no_dir_rename):
    """Readers resolve through the manifest: a stray data file dropped in a
    committed sink's directory (a crashed writer's leftover) must not appear
    in any read path."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "mo"))
    run_dir = os.path.join(tmp_out, "run_id=mo")
    sink = res.sinks_committed[0]
    before = read_table(spark, tmp_out, sinks=[sink]).count()
    d = os.path.join(run_dir, f"sink={sink}")
    src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    shutil.copyfile(
        os.path.join(d, src), os.path.join(d, "part-orphan-from-crash.parquet")
    )
    assert read_table(spark, tmp_out, sinks=[sink]).count() == before
    # a read as of the run is manifest-aware too
    assert read_table(spark, tmp_out, as_of="mo").count() == N


def test_manifest_time_travel_midpoint(spark, tmp_out, no_dir_rename):
    """A read as of the middle one of three run commits sees the first
    two runs whole and the third not at all — manifest-resolved, not
    directory-listed."""
    dim = gen_source_dim(spark)
    for i, run_id in enumerate(("mt0", "mt1", "mt2")):
        run_pipeline(spark, gen_sequences(spark, 500 * (i + 1)), dim, _spec(tmp_out, run_id))
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    snaps = reg.snapshots()
    assert [s.run_id for s in snaps] == ["mt0", "mt1", "mt2"]
    df = read_table(spark, tmp_out, as_of=snaps[1].run_id)
    per_run = {r.run_id: r["count"] for r in df.groupBy("run_id").count().collect()}
    assert per_run == {"mt0": 500, "mt1": 1000}


def test_manifest_empty_sinks(spark, tmp_out, no_dir_rename):
    """A run whose rows reach only some sinks lists only those in its
    manifest: the others have no entry and no directory, readers report
    them as holding no data, and the re-run writes nothing."""
    seqs = gen_sequences(spark, 1)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "me"))
    assert len(res.sinks_committed) == 1 and res.rows_staged == 1
    run_dir = os.path.join(tmp_out, "run_id=me")
    assert [e["sink"] for e in read_run(run_dir)["sinks"]] == res.sinks_committed
    assert [d for d in os.listdir(run_dir) if d.startswith("sink=")] == [
        f"sink={res.sinks_committed[0]}"
    ]
    for s in {"sink_apache", "sink_default", "sink_dev", "sink_syslog"} - set(res.sinks_committed):
        with pytest.raises(ValueError, match="no published data"):
            read_table(spark, tmp_out, sinks=[s])
    res2 = run_pipeline(spark, seqs, dim, _spec(tmp_out, "me"))
    assert res2.sinks_committed == [] and res2.rows_staged == 0


def test_metrics_match_oracle(
    spark, tmp_out, no_dir_rename, crash_at_run_swap
):
    """``_metrics`` equals the oracle's per-(sink, source) counts of the
    input (a) after a clean run, (b) after a crash at the run swap and a
    resume, and (c) after compacting the run and re-running it: the
    compaction's GC keeps ``_metrics``, and the re-run of the committed
    run writes nothing. A run with no rows writes a zero-row
    ``_metrics`` both readers accept."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)

    def check(res):
        _check_metrics(res, seqs, dim)

    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "clean"))  # (a)
    check(res)

    crash_at_run_swap()  # (b)
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "resumed"))
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "resumed"))
    assert res.rows_staged == N
    check(res)

    assert any(r["rewritten"] for r in compact_run(spark, tmp_out, "clean"))  # (c)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "clean"))
    assert res.sinks_committed == [] and res.rows_staged == 0
    check(res)

    res = run_pipeline(spark, seqs.limit(0), dim, _spec(tmp_out, "no-rows"))
    assert pq.read_table(res.metrics_path).num_rows == 0
    assert spark.read.parquet(res.metrics_path).columns == [
        "sink", "source", "row_count", "token_total", "max_tokens"
    ]


def test_read_table_skips_uncommitted_orphans(
    spark, tmp_out, no_dir_rename, crash_at_run_swap
):
    """read_table: the cross-run consumer surface. A bare run_id=*/sink=*
    glob would see a crashed attempt's in-place data files;
    read_table resolves through manifests and must not."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, _spec(tmp_out, "t1"))
    # the second run crashes at its swap: all its sinks have in-place
    # data files but no manifest names them
    crash_at_run_swap()
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "t2"))

    df = read_table(spark, tmp_out).select("run_id", "sink", "doc_id")
    per_run = {
        r.run_id: r.n
        for r in df.groupBy("run_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_run == {"t1": N}
    # while the raw glob DOES see the orphans (the hazard being guarded)
    raw_files = glob.glob(
        os.path.join(tmp_out, "run_id=t2", "sink=*", "*.parquet")
    )
    raw_rows = (
        spark.read.option("basePath", tmp_out).parquet(*raw_files).count()
    )
    assert raw_rows == N  # all four sinks' bytes are on disk
    # resuming t2 completes it; read_table then sees everything exactly once
    run_pipeline(spark, seqs, dim, _spec(tmp_out, "t2"))
    df2 = read_table(spark, tmp_out)
    assert df2.where(F.col("run_id") == "t2").count() == N
    assert (
        df2.groupBy("run_id", "doc_id").count().where("count > 1").count() == 0
    )
