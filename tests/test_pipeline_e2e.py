"""End-to-end golden test (mirror of /root/reference/spec/lumberjack_spec.rb:66-91).

Asserts, against the independent pandas oracle: per-sink aggregate-count
equality, routed-row equality, and per-row token-array equality — the three
checks named by the north_rule. Includes the reference e2e's edge payloads:
unicode source, empty array, single token.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import types as T

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.operators.parse import PARSED_COLS
from logstash_forwarder_spark.pipeline import (
    PipelineSpec,
    build_plan,
    read_table,
    run_pipeline,
)
from logstash_forwarder_spark.plans.manifest import read_run
from logstash_forwarder_spark.plans.registrar import Registrar
from logstash_forwarder_spark.schema import (
    PARSED_FIELDS_SCHEMA,
    SEQUENCES_SCHEMA,
    SOURCE_DIM_SCHEMA,
)

from .oracle import oracle_pipeline, oracle_sink_source_counts

GOLDEN_ROWS = [
    # (doc_id, tokens, n_tok, source) — hand-written per FIXTURES.md §5
    ("hello-000000001", [72, 101, 108, 108, 111], 5, "src_hot"),
    ("fancy-000000002", [70, 97, 110, 99, 121], 5, "src_1"),
    ("emoji-👍-000000003", [128077], 1, "emoji-👍"),  # unicode, unmatched dim
    ("empty-000000004", [], 0, "src_0"),
    ("single-000000005", [42], 1, "src_4"),
    ("long-000000006", list(range(100, 150)), 50, "src_hot"),
    ("apache-000000007", [1, 2, 3], 3, "src_1"),
    ("dev-000000008", [9, 9, 9], 3, "src_4"),
    ("ghosty-000000009", [5, 5], 2, "src_6"),  # source missing from dim
    ("syslog-000000010", list(range(20)), 20, "src_0"),
]


def _golden_dfs(spark):
    seqs = spark.createDataFrame(
        [(d, t, n, s) for d, t, n, s in GOLDEN_ROWS], SEQUENCES_SCHEMA
    )
    dim = gen_source_dim(spark)
    # add a seeded random-ish annotation, mirroring the spec's random field
    extra = [("emoji-👍", {"type": "emoji", "env": "prod", "rand_field": "val42"})]
    dim = dim.union(spark.createDataFrame(extra, SOURCE_DIM_SCHEMA))
    return seqs, dim


def _run(spark, tmp_out, seqs, dim, run_id="golden"):
    spec = PipelineSpec(out_dir=tmp_out, run_id=run_id)
    res = run_pipeline(spark, seqs, dim, spec)
    got = read_table(spark, tmp_out, as_of=run_id).toPandas()
    return res, got


def test_golden_e2e(spark, tmp_out, no_dir_rename):
    seqs, dim = _golden_dfs(spark)
    res, got = _run(spark, tmp_out, seqs, dim)
    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_pipeline(seqs.toPandas(), dim_map)

    assert res.rows_staged == len(GOLDEN_ROWS)
    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)

    # routed-row equality
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.sink) == list(want.sink)
    assert list(got.source) == list(want.source)
    assert list(got.payload_class) == list(want.payload_class)
    assert list(got.tok_sum) == list(want.tok_sum)

    # per-row token-array equality (the input_hint invariant)
    for g, w in zip(got.tokens, want.tokens):
        assert list(g) == list(w)

    # enrich-field equality incl. the seeded random annotation + null path
    got_fields = [dict(f) if f is not None else None for f in got.fields]
    assert got_fields == list(want.fields)
    emoji = got[got.source == "emoji-👍"].iloc[0]
    assert emoji.fields["rand_field"] == "val42"
    ghost = got[got.source == "src_6"].iloc[0]
    assert ghost.fields is None

    # per-sink aggregate-count equality
    got_counts = oracle_sink_source_counts(got)
    want_counts = oracle_sink_source_counts(want)
    pd.testing.assert_frame_equal(got_counts, want_counts, check_dtype=False)


def test_e2e_scaled_against_oracle(spark, tmp_out, no_dir_rename):
    """~2k generated rows (hot key, edges) vs the oracle, full row equality."""
    seqs = gen_sequences(spark, 2_000)
    dim = gen_source_dim(spark)
    res, got = _run(spark, tmp_out, seqs, dim, run_id="scaled")
    dim_map = {r.source: dict(r.fields) for r in dim.collect()}
    want = oracle_pipeline(seqs.toPandas(), dim_map)

    got = got.sort_values("doc_id").reset_index(drop=True)
    want = want.sort_values("doc_id").reset_index(drop=True)
    assert list(got.doc_id) == list(want.doc_id)
    assert list(got.sink) == list(want.sink)
    assert list(got.payload_class) == list(want.payload_class)
    for g, w in zip(got.tokens, want.tokens):
        assert list(g) == list(w)
    pd.testing.assert_frame_equal(
        oracle_sink_source_counts(got), oracle_sink_source_counts(want), check_dtype=False
    )
    # skew fixture sanity: src_hot really is hot
    frac = (got.source == "src_hot").mean()
    assert 0.5 < frac < 0.7


def test_publish_runs_one_job(spark, tmp_out):
    """One job per publish: a Spark-backend run without sort_col parses,
    enriches (the dim rides the kernel, no broadcast job) and writes in
    one job — the writer returns every file's statistics, so nothing is
    listed, re-read or aggregated after it."""
    seqs = gen_sequences(spark, 500)
    dim = gen_source_dim(spark)
    sc = spark.sparkContext
    sc.setJobGroup("publish-jobs", "run_pipeline job count")
    try:
        res = run_pipeline(spark, seqs, dim, PipelineSpec(out_dir=tmp_out, run_id="jobs"))
        jobs = sc.statusTracker().getJobIdsForGroup("publish-jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res.backend == "spark" and res.rows_staged == 500
    assert len(jobs) == 1, jobs


def _nullable(j):
    """A schema's JSON with every nullability flag set: Spark reads every
    column of a file source as nullable."""
    if isinstance(j, dict):
        return {
            k: True
            if k in ("nullable", "containsNull", "valueContainsNull")
            else _nullable(v)
            for k, v in j.items()
        }
    if isinstance(j, list):
        return [_nullable(v) for v in j]
    return j


def test_read_table_schema_is_the_plan_schema(spark, tmp_out):
    """The data files hold the routed rows' exact types: ``read_table``
    over a finished run has ``build_plan``'s schema (names, order, the
    ``fields`` map, the parse columns), nullable as every file read is."""
    seqs = gen_sequences(spark, 500)
    dim = gen_source_dim(spark)
    spec = PipelineSpec(out_dir=tmp_out, run_id="types")
    run_pipeline(spark, seqs, dim, spec)
    got = read_table(spark, tmp_out).schema
    want = build_plan(seqs, dim, spec).schema
    assert got == T.StructType.fromJson(_nullable(want.jsonValue()))
    assert got["fields"].dataType == T.MapType(T.StringType(), T.StringType())
    assert [got[c].dataType for c in PARSED_COLS] == [
        f.dataType for f in PARSED_FIELDS_SCHEMA
    ]


def test_sorted_publish_folds_lineage_per_input_partition(spark, tmp_out):
    """With sort_col the range exchange spreads one input partition's rows
    over several writer tasks: the lineage still has ONE row per (sink,
    part_id), and its sums match each manifest and the input."""
    seqs = gen_sequences(spark, 2_000)
    dim = gen_source_dim(spark)
    spec = PipelineSpec(
        out_dir=tmp_out, run_id="sorted", sort_col="n_tok", sort_partitions=8
    )
    res = run_pipeline(spark, seqs, dim, spec)
    lin = Registrar(os.path.join(tmp_out, "_checkpoint")).lineage("sorted").to_pylist()
    keys = [(r["sink"], r["partition_id"]) for r in lin]
    assert len(keys) == len(set(keys))
    run_dir = os.path.join(tmp_out, "run_id=sorted")
    manifests = {e["sink"]: e for e in read_run(run_dir)["sinks"]}
    for s, m in manifests.items():
        assert sum(r["row_count"] for r in lin if r["sink"] == s) == m["row_count"]
    # some sink spans several writer tasks, so the fold is exercised
    assert any(len(m["files"]) > 1 for m in manifests.values())
    assert res.rows_staged == 2_000
