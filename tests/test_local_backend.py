"""The two backends of ``run_pipeline`` (pipeline.py): a tail poll below
``textlog.DRIVER_HARVEST_BYTES`` is harvested, parsed, routed and
written in the driver; the same lines through Spark must publish the
same rows, manifests, lineage, ``_metrics`` and file schema, and the
poll must advance to the same state."""

from __future__ import annotations

import glob
import os
import random

import pyarrow.parquet as pq
import pytest

from logstash_forwarder_spark.datagen import (
    default_routes,
    gen_sequences,
    gen_source_dim,
)
from logstash_forwarder_spark.pipeline import (
    PipelineSpec,
    is_driver_local,
    read_table,
    run_pipeline,
)
from logstash_forwarder_spark.plans.manifest import read_run
from logstash_forwarder_spark.plans.registrar import Registrar
from logstash_forwarder_spark.sources import textlog
from logstash_forwarder_spark.sources.textlog import (
    lines_to_sequences,
    poll_tail_once,
)

from .conftest import InjectedFailure

# src_1 is apache, src_4 dev and src_hot syslog in gen_source_dim;
# src_6 is not in it (the left join's null path)
SOURCES = ["src_1", "src_4", "src_hot", "src_6"]


def _write_logs(d, seed=5, n=60):
    """Lines of 0–29 tokens, blank and whitespace-only lines (0 tokens),
    CRLF endings and a partial trailing line in every file."""
    rng = random.Random(seed)
    d.mkdir(exist_ok=True)
    for src in SOURCES:
        out = []
        for j in range(n):
            words = [f"w{rng.randrange(40)}" for _ in range(rng.randrange(30))]
            out.append(" ".join(words) + ("\r\n" if j % 7 == 3 else "\n"))
        out.append("   \n\n")
        with open(d / f"{src}.log", "ab") as fh:
            fh.write("".join(out).encode() + b"partial tail, no newline")


def _generated_routes(seed):
    """An ordered route table of random conjunctions and disjunctions
    over the parsed, enriched and input columns, ending in the catch-all."""
    rng = random.Random(seed)
    atoms = [
        lambda: f"n_tok > {rng.randrange(25)}",
        lambda: "n_tok = 0",
        lambda: f"fields['type'] = '{rng.choice(['syslog', 'apache', 'app'])}'",
        lambda: f"fields['env'] = '{rng.choice(['prod', 'dev'])}'",
        lambda: "fields IS NULL",
        lambda: f"payload_class = '{rng.choice(['doubled', 'answer', 'even_head'])}'",
        lambda: f"source = '{rng.choice(SOURCES)}'",
        lambda: f"tok_max % {rng.randrange(2, 9)} = 0",
    ]
    rules = []
    for i in range(4):
        a, b = rng.choice(atoms)(), rng.choice(atoms)()
        rules.append((i, f"({a}) {rng.choice(['AND', 'OR'])} ({b})", f"gen_{i}"))
    return rules + [(9, "true", "gen_rest")]


def _poll(spark, monkeypatch, logs, state, backend):
    with monkeypatch.context() as m:
        if backend == "spark":
            m.setattr(textlog, "DRIVER_HARVEST_BYTES", -1)
        return poll_tail_once(spark, f"{logs}/*.log", state)


def _published(spark, out, run_id, res):
    """Everything a run publishes but its data file names and part_ids."""
    run_dir = os.path.join(out, f"run_id={run_id}")
    manifests = {
        e["sink"]: {k: e[k] for k in ("sources", "row_count")}
        for e in read_run(run_dir)["sinks"]
    }
    lineage = {}
    for r in Registrar(os.path.join(out, "_checkpoint")).lineage(run_id).to_pylist():
        tot = lineage.setdefault(r["sink"], [0, 0])
        tot[0] += r["row_count"]
        tot[1] += r["token_total"]
    metrics = sorted(
        pq.read_table(res.metrics_path).to_pylist(),
        key=lambda r: (r["sink"], r["source"]),
    )
    files = glob.glob(os.path.join(run_dir, "sink=*", "*.parquet"))
    schemas = {pq.read_schema(f).to_string() for f in files}
    rows, table_schema = None, None
    if any(m["row_count"] for m in manifests.values()):
        table = read_table(spark, out)
        table_schema = table.schema
        rows = table.drop("part_id").sort("doc_id").collect()
    return {
        "manifests": manifests,
        "lineage": lineage,
        "metrics": metrics,
        "file_schemas": schemas,
        "table_schema": table_schema,
        "rows": rows,
    }


def _assert_same(spark, tmp_path, local, spark_seqs, routes, sort_col=None):
    outs = {}
    for backend, seqs in (("local", local), ("spark", spark_seqs)):
        out = str(tmp_path / f"out_{backend}")
        spec = PipelineSpec(out_dir=out, run_id="p", routes=routes, sort_col=sort_col)
        res = run_pipeline(spark, seqs, gen_source_dim(spark), spec)
        assert res.backend == backend
        outs[backend] = _published(spark, out, "p", res)
    assert len(outs["local"]["file_schemas"]) <= 1
    assert outs["local"] == outs["spark"]
    return outs["local"]


@pytest.mark.parametrize("routes", [default_routes(), _generated_routes(11)])
def test_backends_publish_the_same(spark, tmp_path, monkeypatch, routes):
    logs = tmp_path / "logs"
    _write_logs(logs)
    local, st_local = _poll(spark, monkeypatch, logs, {}, "local")
    far, st_spark = _poll(spark, monkeypatch, logs, {}, "spark")
    # the state tuples run.py hashes into the poll's run_id
    assert st_local == st_spark
    local_seqs, spark_seqs = lines_to_sequences(local), lines_to_sequences(far)
    assert is_driver_local(local_seqs) and not is_driver_local(spark_seqs)
    got = _assert_same(spark, tmp_path, local_seqs, spark_seqs, routes)
    n_lines = len(SOURCES) * 62  # 60 lines, a blank one, a whitespace one
    assert sum(m["row_count"] for m in got["manifests"].values()) == n_lines
    assert any(r.n_tok == 0 for r in got["rows"])
    assert any(r.fields is None for r in got["rows"])  # src_6
    assert not any("partial" in r.doc_id for r in got["rows"])


def test_backends_publish_the_same_sorted(spark, tmp_path, monkeypatch):
    logs = tmp_path / "logs"
    _write_logs(logs, seed=8)
    local, _ = _poll(spark, monkeypatch, logs, {}, "local")
    _assert_same(
        spark,
        tmp_path,
        lines_to_sequences(local),
        lines_to_sequences(local.localCheckpoint()),
        default_routes(),
        sort_col="n_tok",
    )
    run_dir = str(tmp_path / "out_local" / "run_id=p")
    for f in glob.glob(os.path.join(run_dir, "sink=*", "*.parquet")):
        n_tok = pq.read_table(f, columns=["n_tok"])["n_tok"].to_pylist()
        assert n_tok == sorted(n_tok)


def test_backends_agree_on_growth_and_an_empty_poll(spark, tmp_path, monkeypatch):
    """A second poll over growth that completes the partial lines, then
    an empty poll, each from the same state on both backends."""
    logs = tmp_path / "logs"
    _write_logs(logs)
    _, state = _poll(spark, monkeypatch, logs, {}, "local")
    _write_logs(logs, seed=6, n=10)
    local, st_local = _poll(spark, monkeypatch, logs, state, "local")
    far, st_spark = _poll(spark, monkeypatch, logs, state, "spark")
    assert st_local == st_spark != state
    got = _assert_same(
        spark, tmp_path / "grow", lines_to_sequences(local),
        lines_to_sequences(far), default_routes(),
    )
    assert any(r.doc_id.endswith(":62") for r in got["rows"])  # completed partial

    empty, st_empty = _poll(spark, monkeypatch, logs, st_local, "local")
    assert st_empty == st_local and empty.count() == 0
    got = _assert_same(
        spark, tmp_path / "empty", lines_to_sequences(empty),
        lines_to_sequences(empty.localCheckpoint()), default_routes(),
    )
    assert got["rows"] is None and got["metrics"] == []


def test_local_resume_after_crash_matches_spark(
    spark, tmp_path, monkeypatch, crash_at_run_swap
):
    """A local run that dies after its data files and before its run swap
    leaves nothing visible to ``read_table`` or the snapshot log, and its
    re-run publishes the same as an uninterrupted Spark run: every row
    exactly once."""
    logs = tmp_path / "logs"
    _write_logs(logs)
    local, _ = _poll(spark, monkeypatch, logs, {}, "local")
    seqs = lines_to_sequences(local)
    out = str(tmp_path / "out_local")
    spec = PipelineSpec(out_dir=out, run_id="p")
    crash_at_run_swap()
    with pytest.raises(InjectedFailure):
        run_pipeline(spark, seqs, gen_source_dim(spark), spec)
    assert glob.glob(os.path.join(out, "run_id=p", "sink=*", "*.parquet"))
    assert Registrar(os.path.join(out, "_checkpoint")).snapshots() == []
    with pytest.raises(ValueError, match="no published data"):
        read_table(spark, out)
    res = run_pipeline(spark, seqs, gen_source_dim(spark), spec)
    assert res.backend == "local"
    assert res.rows_staged == seqs.count()
    resumed = _published(spark, out, "p", res)

    far = lines_to_sequences(local.localCheckpoint())
    out_s = str(tmp_path / "out_spark")
    res_s = run_pipeline(
        spark, far, gen_source_dim(spark), PipelineSpec(out_dir=out_s, run_id="p")
    )
    assert res_s.backend == "spark"
    assert resumed == _published(spark, out_s, "p", res_s)


def _jobs(spark, name, fn):
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        result = fn()
        jobs = sc.statusTracker().getJobIdsForGroup(name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return result, len(jobs)


def test_driver_sized_poll_and_run_job_counts(spark, tmp_path):
    """A poll below the crossover starts no Spark job; the local publish
    starts at most two (the row fetch and the route)."""
    logs = tmp_path / "logs"
    _write_logs(logs)
    (harvested, _), poll_jobs = _jobs(
        spark, "local-poll", lambda: poll_tail_once(spark, f"{logs}/*.log", {})
    )
    assert poll_jobs == 0
    seqs, dim = lines_to_sequences(harvested), gen_source_dim(spark)
    spec = PipelineSpec(out_dir=str(tmp_path / "out"), run_id="j")
    res, run_jobs = _jobs(spark, "local-run", lambda: run_pipeline(spark, seqs, dim, spec))
    assert res.backend == "local" and res.rows_staged == len(SOURCES) * 62
    assert run_jobs <= 2


def test_zero_crossover_takes_the_spark_backend(spark, tmp_path, monkeypatch):
    logs = tmp_path / "logs"
    _write_logs(logs)
    monkeypatch.setattr(textlog, "DRIVER_HARVEST_BYTES", 0)
    harvested, _ = poll_tail_once(spark, f"{logs}/*.log", {})
    res = run_pipeline(
        spark,
        lines_to_sequences(harvested),
        gen_source_dim(spark),
        PipelineSpec(out_dir=str(tmp_path / "out"), run_id="z"),
    )
    assert res.backend == "spark" and res.rows_staged == len(SOURCES) * 62


def test_parquet_input_takes_the_spark_backend(spark, tmp_path):
    path = str(tmp_path / "seqs")
    gen_sequences(spark, 200).write.parquet(path)
    res = run_pipeline(
        spark,
        spark.read.parquet(path),
        gen_source_dim(spark),
        PipelineSpec(out_dir=str(tmp_path / "out"), run_id="pq"),
    )
    assert res.backend == "spark" and res.rows_staged == 200
