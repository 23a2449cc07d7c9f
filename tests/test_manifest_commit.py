"""The manifest commit protocol (plans/manifest.py).

Every pipeline test runs under the ``no_dir_rename`` shim (tests/conftest.py)
that makes `os.replace` RAISE on directories — proving the whole
publish/commit/resume/time-travel cycle needs only single-file atomic
swaps, the primitive object stores can provide. The resolver tests need only
the filesystem."""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_sink, run_pipeline
from logstash_forwarder_spark.plans.compact import compact_run
from logstash_forwarder_spark.plans.manifest import (
    publish_manifest,
    read_manifest,
    resolve_sink_paths,
)
from logstash_forwarder_spark.plans.registrar import Registrar

from .conftest import InjectedFailure
from .oracle import oracle_pipeline, oracle_sink_source_counts

N = 2_000


def _spec(tmp_out, run_id, **kw):
    return PipelineSpec(out_dir=tmp_out, run_id=run_id, **kw)


def _all_rows(spark, tmp_out, run_id, sinks):
    frames = []
    for s in sinks:
        try:
            frames.append(read_sink(spark, tmp_out, run_id, s))
        except ValueError:
            pass  # empty sink: manifest with no files
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    return df


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
    publish_manifest(run_dir, "a", files, [])
    assert resolve_sink_paths(run_dir, ["a"]) == [os.path.join(run_dir, "sink=a")]


def test_resolve_sink_with_orphan_to_manifest_files(tmp_path):
    """An orphan beside the committed files: the sink resolves to exactly
    the manifest's files, so the orphan stays invisible."""
    run_dir = str(tmp_path / "run_id=r")
    files = _touch_sink_files(run_dir, "a", ["part-0.parquet", "part-1.parquet"])
    publish_manifest(run_dir, "a", files, [])
    _touch_sink_files(run_dir, "a", ["part-orphan.parquet"])
    assert sorted(resolve_sink_paths(run_dir, ["a"])) == sorted(
        os.path.join(run_dir, f) for f in files
    )


def test_resolve_empty_or_uncommitted_sink_to_nothing(tmp_path):
    """An empty manifest, a sink with files but no manifest, and an unknown
    sink all resolve to no path."""
    run_dir = str(tmp_path / "run_id=r")
    publish_manifest(run_dir, "empty", [], [])
    _touch_sink_files(run_dir, "uncommitted", ["part-0.parquet"])
    assert resolve_sink_paths(run_dir, ["empty", "uncommitted", "missing"]) == []


def test_manifest_run_resume_exactly_once(spark, tmp_out, no_dir_rename):
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "m1"))
    assert len(res.sinks_committed) == 4 and res.rows_staged == N
    # identical rerun: all sinks skipped, nothing re-staged
    res2 = run_pipeline(spark, seqs, dim, _spec(tmp_out, "m1"))
    assert res2.sinks_committed == [] and res2.rows_staged == 0
    assert sorted(res2.sinks_skipped) == sorted(res.sinks_committed)
    # published data complete and duplicate-free; lineage agrees
    got = _all_rows(spark, tmp_out, "m1", res.sinks_committed)
    n, nd = got.agg(
        F.count(F.lit(1)), F.countDistinct("doc_id")
    ).first()
    assert (n, nd) == (N, N)
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    lin = reg.lineage("m1")
    assert sum(lin.column("row_count").to_pylist()) == N
    # per-sink manifest row_count matches the published reality
    run_dir = os.path.join(tmp_out, "run_id=m1")
    by_sink = {r["sink"]: r["n"] for r in got.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()}
    for sink, want in by_sink.items():
        assert read_manifest(run_dir, sink)["row_count"] == want


def test_manifest_kill_resume(spark, tmp_out, no_dir_rename, crash_after_commits):
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    crash_after_commits(2)
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "mk"))
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    assert len(reg.committed_sinks("mk")) == 2
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "mk"))
    assert len(res.sinks_committed) + len(res.sinks_skipped) == 4
    got = _all_rows(spark, tmp_out, "mk", ["sink_apache", "sink_default", "sink_dev", "sink_syslog"])
    n, nd = got.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).first()
    assert (n, nd) == (N, N)
    assert sum(reg.lineage("mk").column("row_count").to_pylist()) == N


def test_manifest_crash_before_commit_swap_is_redone(
    spark, tmp_out, no_dir_rename
):
    """A crash after the data write but before a sink's one commit swap
    leaves data files no manifest names: the sink is uncommitted, no
    reader sees its files, and resume deletes them and redoes the sink
    with no duplicates."""
    from logstash_forwarder_spark.pipeline import read_table

    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "mw"))
    run_dir = os.path.join(tmp_out, "run_id=mw")
    victim = sorted(
        s for s in res.sinks_committed if read_manifest(run_dir, s)["files"]
    )[0]
    orphans = [
        os.path.join(run_dir, f) for f in read_manifest(run_dir, victim)["files"]
    ]
    os.remove(os.path.join(run_dir, "_manifests", f"sink={victim}.json"))
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    assert victim not in reg.committed_sinks("mw")
    assert read_table(spark, tmp_out).where(F.col("sink") == victim).count() == 0
    res2 = run_pipeline(spark, seqs, dim, _spec(tmp_out, "mw"))
    assert res2.sinks_committed == [victim]
    assert not any(os.path.exists(f) for f in orphans)
    got = _all_rows(spark, tmp_out, "mw", res.sinks_committed)
    n, nd = got.agg(F.count(F.lit(1)), F.countDistinct("doc_id")).first()
    assert (n, nd) == (N, N)


def test_one_commit_swap_per_sink(spark, tmp_out, no_dir_rename, monkeypatch):
    """A run's metadata writes are one ``publish_file`` per committed sink
    plus the run's one ``_metrics`` swap — the manifest is each sink's
    only commit record — and nothing lands under ``_checkpoint/``."""
    from logstash_forwarder_spark import pipeline
    from logstash_forwarder_spark.plans import manifest

    swaps: list[str] = []
    real = manifest.publish_file

    def counting(final, data):
        swaps.append(os.path.relpath(final, tmp_out))
        return real(final, data)

    monkeypatch.setattr(manifest, "publish_file", counting)
    monkeypatch.setattr(pipeline, "publish_file", counting)
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "one"))
    metrics = os.path.join("run_id=one", "_metrics", "part-00000.parquet")
    manifests = [
        os.path.join("run_id=one", "_manifests", f"sink={s}.json")
        for s in res.sinks_committed
    ]
    assert sorted(swaps) == sorted([*manifests, metrics])
    assert len(res.sinks_committed) == 4
    swaps.clear()
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "one"))  # all skipped
    assert res.sinks_committed == [] and swaps == [metrics]
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
    sink = sorted(
        s for s in res.sinks_committed if read_manifest(run_dir, s)["files"]
    )[0]
    before = read_sink(spark, tmp_out, "mo", sink).count()
    d = os.path.join(run_dir, f"sink={sink}")
    src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    shutil.copyfile(
        os.path.join(d, src), os.path.join(d, "part-orphan-from-crash.parquet")
    )
    assert read_sink(spark, tmp_out, "mo", sink).count() == before
    # snapshot read is manifest-aware too
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    cur = reg.current()
    df = reg.read_as_of(spark, tmp_out, "mo", snapshot_id=cur.snapshot_id)
    assert df.count() == N


def test_manifest_time_travel_midpoint(spark, tmp_out, no_dir_rename):
    """read_as_of at the second commit sees exactly the first two sinks'
    rows — manifest-resolved, not directory-listed."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, _spec(tmp_out, "mt"))
    reg = Registrar(os.path.join(tmp_out, "_checkpoint"))
    snaps = [s for s in reg.snapshots() if s.run_id == "mt"]
    assert len(snaps) == 4
    cut = snaps[1]
    df = reg.read_as_of(spark, tmp_out, "mt", snapshot_id=cut.snapshot_id)
    visible = {s.sink for s in snaps[:2]}
    assert set(r.sink for r in df.select("sink").distinct().collect()) <= visible
    want = sum(
        read_manifest(os.path.join(tmp_out, "run_id=mt"), s)["row_count"]
        for s in visible
    )
    assert df.count() == want


def test_manifest_empty_sinks(spark, tmp_out, no_dir_rename):
    """A run whose rows reach only some sinks: the empty sinks still commit
    (empty manifest + empty lineage), resume skips all four, and readers
    treat the empty manifests as no-data rather than falling back to
    directory listing."""
    seqs = gen_sequences(spark, 1)
    dim = gen_source_dim(spark)
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "me"))
    assert len(res.sinks_committed) == 4 and res.rows_staged == 1
    run_dir = os.path.join(tmp_out, "run_id=me")
    manifests = {s: read_manifest(run_dir, s) for s in res.sinks_committed}
    assert all(m is not None for m in manifests.values())
    n_with_data = sum(1 for m in manifests.values() if m["files"])
    assert n_with_data >= 1
    empty = [s for s, m in manifests.items() if not m["files"]]
    assert len(empty) == 4 - n_with_data
    for s in empty:
        with pytest.raises(ValueError, match="no published data"):
            read_sink(spark, tmp_out, "me", s)
    res2 = run_pipeline(spark, seqs, dim, _spec(tmp_out, "me"))
    assert res2.sinks_committed == [] and len(res2.sinks_skipped) == 4


def test_metrics_from_manifests_match_oracle(
    spark, tmp_out, no_dir_rename, crash_after_commits
):
    """``_metrics`` equals the oracle's per-(sink, source) counts of the
    input (a) after a clean run, (b) after a crash and a resume, where the
    skipped sink's statistics come from its manifest, and (c) after
    compacting the run and re-running it, which skips every sink — the
    manifest swap carries the statistics. A run with no rows writes a
    zero-row ``_metrics`` both readers accept."""
    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_sink_source_counts(oracle_pipeline(seqs.toPandas(), dim_map))

    def check(res):
        got = pq.read_table(res.metrics_path).to_pandas()
        got = got.sort_values(["sink", "source"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "clean"))  # (a)
    check(res)

    crash_after_commits(1)  # (b)
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "resumed"))
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "resumed"))
    assert len(res.sinks_skipped) == 1
    check(res)

    assert any(r["rewritten"] for r in compact_run(spark, tmp_out, "clean"))  # (c)
    shutil.rmtree(os.path.join(tmp_out, "run_id=clean", "_metrics"))
    res = run_pipeline(spark, seqs, dim, _spec(tmp_out, "clean"))
    assert res.sinks_committed == [] and len(res.sinks_skipped) == 4
    check(res)

    res = run_pipeline(spark, seqs.limit(0), dim, _spec(tmp_out, "no-rows"))
    assert pq.read_table(res.metrics_path).num_rows == 0
    assert spark.read.parquet(res.metrics_path).columns == list(want.columns)


def test_read_table_skips_uncommitted_orphans(
    spark, tmp_out, no_dir_rename, crash_after_commits
):
    """read_table: the cross-run consumer surface. A bare run_id=*/sink=*
    glob would see a crashed attempt's in-place data files;
    read_table resolves through manifests and must not."""
    import glob as globmod

    from logstash_forwarder_spark.pipeline import read_table

    seqs = gen_sequences(spark, N)
    dim = gen_source_dim(spark)
    run_pipeline(spark, seqs, dim, _spec(tmp_out, "t1"))
    # second run crashes after 2 of 4 sink commits: the remaining sinks
    # have in-place data files but no manifest
    crash_after_commits(2)
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, dim, _spec(tmp_out, "t2"))

    df = read_table(spark, tmp_out).select("run_id", "sink", "doc_id")
    per_run = {
        r.run_id: r.n
        for r in df.groupBy("run_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_run["t1"] == N
    # t2 contributes ONLY its two committed sinks
    committed_rows = per_run.get("t2", 0)
    assert 0 < committed_rows < N
    # while the raw glob DOES see the orphans (the hazard being guarded)
    raw_files = globmod.glob(
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


def test_read_table_dedup_on_collapses_replay_duplicates(spark, tmp_out):
    """The consumer half of the tail loop's at-least-once recovery
    window: the SAME replay-stable doc_ids committed under two run_ids
    (a recovery poll bundling old lines with growth) collapse to one row
    each with dedup_on, keeping the min-run_id replica; disjoint rows
    are untouched."""
    from logstash_forwarder_spark.datagen import gen_source_dim
    from logstash_forwarder_spark.pipeline import (
        PipelineSpec,
        read_table,
        run_pipeline,
    )

    def seqs(spark, ids):
        return spark.createDataFrame(
            [(f"app:{i}", [i % 7, (i + 1) % 7], 2, "app") for i in ids],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )

    dim = gen_source_dim(spark)
    run_pipeline(
        spark, seqs(spark, range(0, 100)), dim,
        PipelineSpec(out_dir=tmp_out, run_id="t-p0"),
    )
    # recovery poll: re-ships 50..99 bundled with new growth 100..149
    run_pipeline(
        spark, seqs(spark, range(50, 150)), dim,
        PipelineSpec(out_dir=tmp_out, run_id="t-p1"),
    )
    raw = read_table(spark, tmp_out)
    assert raw.count() == 200  # duplicates visible in the raw view
    clean = read_table(spark, tmp_out, dedup_on="doc_id")
    assert clean.count() == 150
    assert clean.select("doc_id").distinct().count() == 150
    # overlapping ids kept the min-run_id replica; growth kept its own
    runs = {
        r.doc_id: r.run_id
        for r in clean.select("doc_id", "run_id").collect()
    }
    assert runs["app:75"] == "t-p0"
    assert runs["app:125"] == "t-p1"
