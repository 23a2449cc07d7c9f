"""Small-file compaction on the manifest protocol (plans/compact.py)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_table, run_pipeline
from logstash_forwarder_spark.plans import compact as compact_mod
from logstash_forwarder_spark.plans.compact import compact_run, compact_sink
from logstash_forwarder_spark.plans.manifest import RUN_MANIFEST, find_sink, read_run
from logstash_forwarder_spark.plans.registrar import Registrar

from .conftest import InjectedFailure

N = 2_000


def _publish(spark, tmp_out, run_id="c1"):
    seqs = gen_sequences(spark, N).repartition(8)
    res = run_pipeline(
        spark,
        seqs,
        gen_source_dim(spark),
        PipelineSpec(out_dir=tmp_out, run_id=run_id),
    )
    assert res.rows_staged == N
    run_dir = os.path.join(tmp_out, f"run_id={run_id}")
    return run_dir, res.sinks_committed


def _snapshot(spark, tmp_out, run_id, sinks):
    """Each sink's read schema and every column of every row, through the
    reader path (the ``sink`` partition column included), in (sink,
    doc_id) order."""
    schemas, rows = {}, []
    for s in sinks:
        try:
            df = read_table(spark, tmp_out, sinks=[s]).where(F.col("run_id") == run_id)
        except ValueError:
            continue
        schemas[s] = df.schema
        rows.extend(df.collect())
    return schemas, sorted(rows, key=lambda r: (r.sink, r.doc_id))


def read_manifest(run_dir, sink):
    """The sink's entry in the run's manifest."""
    return find_sink(read_run(run_dir), sink)


def _files_on_disk(run_dir, sink):
    """Every entry of the sink directory, as manifest-relative paths."""
    d = os.path.join(run_dir, f"sink={sink}")
    return {os.path.join(f"sink={sink}", f) for f in os.listdir(d)}


def _multi_file_sink(run_dir, sinks):
    return next(s for s in sinks if len(read_manifest(run_dir, s)["files"]) > 1)


def test_compact_preserves_content_and_shrinks_files(
    spark, tmp_out, no_dir_rename
):
    run_dir, sinks = _publish(spark, tmp_out)
    before = _snapshot(spark, tmp_out, "c1", sinks)
    assert len(before[1]) == N
    manifests = {s: read_manifest(run_dir, s) for s in sinks}
    assert any(len(m["files"]) > 1 for m in manifests.values())

    reports = compact_run(spark, tmp_out, "c1")
    rewritten = [r for r in reports if r["rewritten"]]
    assert rewritten, "nothing compacted — fixture produced single-file sinks"
    for r in rewritten:
        assert r["files_after"] < r["files_before"]
        m = read_manifest(run_dir, r["sink"])
        assert len(m["files"]) == r["files_after"]
        assert m["row_count"] == r["row_count"]  # row_count untouched
        assert m["sources"] == manifests[r["sink"]]["sources"]
    # no Hadoop-committer or staging residue anywhere in the run, and
    # every sink directory holds exactly its manifest's files
    for root, dirs, files in os.walk(run_dir):
        for f in dirs + files:
            assert f != "_SUCCESS" and f != "_temporary", os.path.join(root, f)
            assert not f.endswith(".crc"), os.path.join(root, f)
            assert not f.startswith("_compact_tmp"), os.path.join(root, f)
    for s in sinks:
        assert _files_on_disk(run_dir, s) == set(read_manifest(run_dir, s)["files"])
    # the same table through the reader path: the same schema and every
    # column of every row (incl. the sink partition column surviving the
    # rewrite)
    assert _snapshot(spark, tmp_out, "c1", sinks) == before
    # idempotent: a second pass is a no-op
    assert all(not r["rewritten"] for r in compact_run(spark, tmp_out, "c1"))


def _file_schemas(run_dir, sinks):
    """Each sink's parquet schemas, nullability flags included."""
    return {
        s: {
            pq.read_schema(os.path.join(run_dir, f)).remove_metadata()
            for f in read_manifest(run_dir, s)["files"]
        }
        for s in sinks
    }


def test_compact_keeps_the_file_schema(spark, tmp_out, no_dir_rename):
    """A rewrite reads through Spark, which makes every column nullable;
    the rewritten files must still carry the publish's NOT NULL flags
    (``host``, ``run_id``, ``part_id``, the ``fields`` map values)."""
    run_dir, sinks = _publish(spark, tmp_out)
    before = _file_schemas(run_dir, sinks)
    assert all(len(v) == 1 for v in before.values())
    assert not next(iter(before[sinks[0]])).field("host").nullable
    assert any(r["rewritten"] for r in compact_run(spark, tmp_out, "c1"))
    assert _file_schemas(run_dir, sinks) == before


def test_compact_crash_before_swap_is_invisible(spark, tmp_out, no_dir_rename):
    run_dir, sinks = _publish(spark, tmp_out)
    sink = _multi_file_sink(run_dir, sinks)
    before = _snapshot(spark, tmp_out, "c1", [sink])
    old_manifest = read_manifest(run_dir, sink)

    def boom(*a, **k):
        raise OSError("injected: crash at the commit point")

    orig = compact_mod.publish_run
    compact_mod.publish_run = boom
    try:
        with pytest.raises(OSError, match="injected"):
            compact_sink(spark, run_dir, sink)
    finally:
        compact_mod.publish_run = orig

    # reader sees the OLD committed state, untouched; the crash left
    # unreferenced new files beside it
    assert read_manifest(run_dir, sink) == old_manifest
    assert _files_on_disk(run_dir, sink) > set(old_manifest["files"])
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before
    # the retry removes the leftovers itself and completes the job
    assert compact_sink(spark, run_dir, sink)["rewritten"]
    assert _files_on_disk(run_dir, sink) == set(read_manifest(run_dir, sink)["files"])
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before


def test_compact_crash_after_swap_is_cleaned_by_next_compaction(
    spark, tmp_out, no_dir_rename, monkeypatch
):
    """A crash after the manifest swap, before the old files are deleted,
    leaves them unreferenced; the next compaction of the sink, which has
    nothing to rewrite, removes them."""
    run_dir, sinks = _publish(spark, tmp_out)
    sink = _multi_file_sink(run_dir, sinks)
    before = _snapshot(spark, tmp_out, "c1", [sink])
    old = set(read_manifest(run_dir, sink)["files"])
    old_abs = {os.path.join(run_dir, f) for f in old}
    real_remove = os.remove

    def remove(path, *a, **k):
        if path in old_abs:
            raise OSError("injected: crash after the swap")
        return real_remove(path, *a, **k)

    monkeypatch.setattr(os, "remove", remove)
    with pytest.raises(OSError, match="injected"):
        compact_sink(spark, run_dir, sink)
    monkeypatch.setattr(os, "remove", real_remove)

    swapped = read_manifest(run_dir, sink)
    assert not old & set(swapped["files"])
    assert _files_on_disk(run_dir, sink) == old | set(swapped["files"])
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before

    assert not compact_sink(spark, run_dir, sink)["rewritten"]
    assert read_manifest(run_dir, sink) == swapped
    assert _files_on_disk(run_dir, sink) == set(swapped["files"])
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before


def test_compact_refuses_row_count_mismatch(spark, tmp_out, no_dir_rename):
    """A rewrite whose statistics disagree with the manifest — its row
    total, or one source's statistics — is refused, and the refusal
    leaves the manifest as it was and no file outside it."""
    import json

    run_dir, sinks = _publish(spark, tmp_out)
    sink = _multi_file_sink(run_dir, sinks)
    mp = os.path.join(run_dir, RUN_MANIFEST)
    good = json.load(open(mp))
    i = [e["sink"] for e in good["sinks"]].index(sink)
    row_count_off = json.loads(json.dumps(good))
    row_count_off["sinks"][i]["row_count"] += 1
    token_total_off = json.loads(json.dumps(good))
    token_total_off["sinks"][i]["sources"][0]["token_total"] += 1
    # simulate corrupted commit pointers
    for m in (row_count_off, token_total_off):
        json.dump(m, open(mp, "w"))
        with pytest.raises(RuntimeError, match="refusing to swap"):
            compact_sink(spark, run_dir, sink)
        assert read_run(run_dir) == m
        assert _files_on_disk(run_dir, sink) == set(m["sinks"][i]["files"])


def test_compact_refuses_uncommitted_sink(
    spark, tmp_out, no_dir_rename, crash_at_run_swap
):
    """A sink whose data files are on disk but that no run manifest lists
    (the run crashed before its commit) has no commit pointer to swap:
    compaction refuses it rather than promoting orphans."""
    crash_at_run_swap()
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark,
            gen_sequences(spark, N),
            gen_source_dim(spark),
            PipelineSpec(out_dir=tmp_out, run_id="r1"),
        )
    run_dir = os.path.join(tmp_out, "run_id=r1")
    assert Registrar(os.path.join(tmp_out, "_checkpoint")).committed_sinks("r1") == set()
    orphaned = [
        s
        for s in ("sink_apache", "sink_default", "sink_dev", "sink_syslog")
        if glob.glob(os.path.join(run_dir, f"sink={s}", "*.parquet"))
    ]
    assert orphaned
    for s in orphaned:
        with pytest.raises(ValueError, match="uncommitted"):
            compact_sink(spark, run_dir, s)
    for run_id in ("r1", "never-ran"):
        with pytest.raises(ValueError, match="nothing to compact"):
            compact_run(spark, tmp_out, run_id)


def test_compact_composes_with_sorted_layout(spark, tmp_out, no_dir_rename):
    """Compacting a sorted publish down to ONE file keeps zone-map
    pruning working when the rewrite re-sorts (``sort_cols``) and caps
    row groups (``row_group_bytes``): a narrow n_tok band still scans at
    most a third of the sink's rows."""
    from pyspark.sql import functions as F

    from logstash_forwarder_spark.plans.layout import scan_output_rows

    seqs = gen_sequences(spark, 40_000).repartition(8)
    dim = gen_source_dim(spark)
    run_pipeline(
        spark,
        seqs,
        dim,
        PipelineSpec(
            out_dir=tmp_out,
            run_id="s1",
            sort_col="n_tok",
            sort_partitions=16,
        ),
    )
    run_dir = os.path.join(tmp_out, "run_id=s1")

    def scanned() -> tuple[int, int]:
        df = read_table(spark, tmp_out, sinks=["sink_syslog"]).where(
            (F.col("n_tok") >= 100) & (F.col("n_tok") < 110)
        )
        rows = df.collect()
        return len(rows), scan_output_rows(df)

    n_before, scan_before = scanned()
    total = read_table(spark, tmp_out, sinks=["sink_syslog"]).count()

    rep = compact_sink(
        spark,
        run_dir,
        "sink_syslog",
        row_group_bytes=64 * 1024,
        sort_cols=["n_tok"],
    )
    assert rep["rewritten"] and rep["files_after"] == 1
    n_after, scan_after = scanned()
    assert n_after == n_before > 0
    # pruning survives the merge: far fewer rows than the full sink
    assert scan_after * 3 <= total, (scan_after, total)
