"""Small-file compaction on the manifest protocol (plans/compact.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import (
    InjectedFailure,
    PipelineSpec,
    read_sink,
    run_pipeline,
)
from logstash_forwarder_spark.plans import compact as compact_mod
from logstash_forwarder_spark.plans.compact import (
    compact_run,
    compact_sink,
    gc_unreferenced,
)
from logstash_forwarder_spark.plans.manifest import list_data_files, read_manifest
from logstash_forwarder_spark.plans.registrar import Registrar

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
    rows = []
    for s in sinks:
        try:
            df = read_sink(spark, tmp_out, run_id, s)
        except ValueError:
            continue
        rows.extend(
            (r.sink, r.doc_id) for r in df.select("sink", "doc_id").collect()
        )
    return sorted(rows)


def test_compact_preserves_content_and_shrinks_files(
    spark, tmp_out, no_dir_rename
):
    run_dir, sinks = _publish(spark, tmp_out)
    before = _snapshot(spark, tmp_out, "c1", sinks)
    assert len(before) == N
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
        # old files are gone; only manifest-listed files remain
        d = os.path.join(run_dir, f"sink={r['sink']}")
        on_disk = {f for f in os.listdir(d) if f.endswith(".parquet")}
        assert on_disk == {os.path.basename(f) for f in m["files"]}
    # byte-identical table contents through the reader path (incl. the
    # sink partition column surviving the rewrite)
    assert _snapshot(spark, tmp_out, "c1", sinks) == before
    # idempotent: a second pass is a no-op
    assert all(not r["rewritten"] for r in compact_run(spark, tmp_out, "c1"))


def test_compact_crash_before_swap_is_invisible(spark, tmp_out, no_dir_rename):
    run_dir, sinks = _publish(spark, tmp_out)
    sink = next(
        s for s in sinks if len(read_manifest(run_dir, s)["files"]) > 1
    )
    before = _snapshot(spark, tmp_out, "c1", [sink])
    old_manifest = read_manifest(run_dir, sink)

    def boom(*a, **k):
        raise OSError("injected: crash at the commit point")

    orig = compact_mod.publish_manifest
    compact_mod.publish_manifest = boom
    try:
        with pytest.raises(OSError, match="injected"):
            compact_sink(spark, run_dir, sink)
    finally:
        compact_mod.publish_manifest = orig

    # reader sees the OLD committed state, untouched
    assert read_manifest(run_dir, sink) == old_manifest
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before
    # crash leftovers are unreferenced garbage; gc removes them
    assert gc_unreferenced(run_dir, sink) > 0
    assert gc_unreferenced(run_dir, sink) == 0
    # retry completes the job
    assert compact_sink(spark, run_dir, sink)["rewritten"]
    assert _snapshot(spark, tmp_out, "c1", [sink]) == before


def test_compact_refuses_row_count_mismatch(spark, tmp_out, no_dir_rename):
    import json

    run_dir, sinks = _publish(spark, tmp_out)
    sink = next(
        s for s in sinks if len(read_manifest(run_dir, s)["files"]) > 1
    )
    mp = os.path.join(run_dir, "_manifests", f"sink={sink}.json")
    m = json.load(open(mp))
    m["row_count"] += 1  # simulate a corrupted commit pointer
    json.dump(m, open(mp, "w"))
    with pytest.raises(RuntimeError, match="refusing to swap"):
        compact_sink(spark, run_dir, sink)
    # the refusal left no new data files behind
    d = os.path.join(run_dir, f"sink={sink}")
    assert not [f for f in os.listdir(d) if f.startswith("compact-")]
    assert not [f for f in os.listdir(run_dir) if f.startswith("_compact_tmp")]


def test_compact_refuses_uncommitted_sink(spark, tmp_out, no_dir_rename):
    """A sink whose data files are on disk but that has no manifest (the
    run crashed before committing it) has no commit pointer to swap:
    compaction refuses it rather than promoting orphans."""
    with pytest.raises(InjectedFailure):
        run_pipeline(
            spark,
            gen_sequences(spark, N),
            gen_source_dim(spark),
            PipelineSpec(out_dir=tmp_out, run_id="r1", fail_after_sinks=1),
        )
    run_dir = os.path.join(tmp_out, "run_id=r1")
    done = Registrar(os.path.join(tmp_out, "_checkpoint")).committed_sinks("r1")
    orphaned = [
        s
        for s in ("sink_apache", "sink_default", "sink_dev", "sink_syslog")
        if s not in done and list_data_files(run_dir, s)
    ]
    assert orphaned
    for s in orphaned:
        assert read_manifest(run_dir, s) is None
        with pytest.raises(ValueError, match="uncommitted"):
            compact_sink(spark, run_dir, s)
    with pytest.raises(ValueError, match="nothing to compact"):
        compact_run(spark, tmp_out, "never-ran")


def test_compact_composes_with_sorted_layout(spark, tmp_out, no_dir_rename):
    """Compacting a sorted publish down to ONE file keeps zone-map
    pruning working when the rewrite re-sorts and caps row groups —
    and the test shows the knobs are necessary, not decorative."""
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
        df = read_sink(spark, tmp_out, "s1", "sink_syslog").where(
            (F.col("n_tok") >= 100) & (F.col("n_tok") < 110)
        )
        rows = df.collect()
        return len(rows), scan_output_rows(df)

    n_before, scan_before = scanned()
    total = read_sink(spark, tmp_out, "s1", "sink_syslog").count()

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
