"""End-to-end golden test (mirror of /root/reference/spec/lumberjack_spec.rb:66-91).

Asserts, against the independent pandas oracle: per-sink aggregate-count
equality, routed-row equality, and per-row token-array equality — the three
checks named by the north_rule. Includes the reference e2e's edge payloads:
unicode source, empty array, single token.
"""

from __future__ import annotations

import pandas as pd

from logstash_forwarder_spark.datagen import gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, read_sink, run_pipeline
from logstash_forwarder_spark.schema import SEQUENCES_SCHEMA, SOURCE_DIM_SCHEMA

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
    frames = []
    for s in res.sinks_committed + res.sinks_skipped:
        try:
            frames.append(read_sink(spark, tmp_out, run_id, s).toPandas())
        except ValueError:
            pass  # sink with zero rows: empty manifest
    got = pd.concat(frames, ignore_index=True)
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
