"""Unit tests for the vectorized parse stage (O-P1).

Mirrors the reference's per-event construction checks
(/root/reference/harvester.go:76-89) plus the edge payloads of its e2e spec
(/root/reference/spec/lumberjack_spec.rb:70): empty, single-token, unicode.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from logstash_forwarder_spark.datagen import gen_sequences
from logstash_forwarder_spark.operators.parse import (
    parse_batch,
    parse_stage,
    parse_stage_builtin,
)

COLS = ["head_token", "tail_token", "tok_sum", "tok_max", "n_distinct", "payload_class"]


def _parse(rows: list[list[int]]) -> dict[str, list]:
    """parse_batch over one Arrow batch of token lists, as Python columns."""
    tokens = pa.array(rows, pa.list_(pa.int32()))
    return parse_batch(pa.record_batch({"tokens": tokens})).to_pydict()


def test_parse_batch_known_values():
    out = _parse(
        [
            [3, 1, 4, 1, 5],  # sig "31415" → odd_head
            [2, 2, 7],  # "227" → doubled
            [14, 2],  # "42" → answer
            [8, 9],  # "89" → even_head
            [],  # empty
            [7],  # single token
        ]
    )
    assert out["payload_class"] == [
        "odd_head",
        "doubled",
        "answer",
        "even_head",
        "empty",
        "odd_head",
    ]
    assert out["tok_sum"] == [14, 11, 16, 17, 0, 7]
    assert out["head_token"][0] == 3 and out["tail_token"][0] == 5
    assert out["n_distinct"][0] == 4
    # empty rows are null, not the kernel's -1 sentinel
    assert out["head_token"][4] is None and out["tok_max"][4] is None
    assert out["head_token"][5] == 7 and out["tail_token"][5] == 7


def test_parse_flat_int64_path_handles_negatives_and_wide_vocab():
    """The packed-key fallback (row_idx<<32 | value) must mask values to 32
    bits: a negative token would sign-extend into the row bits and corrupt
    n_distinct. Exercise both fallback triggers (negatives; vocab ≥ 2^16)
    and cross-check distinct counts against python sets."""
    from logstash_forwarder_spark.operators.parse import parse_flat

    rng = np.random.default_rng(9)
    rows = [
        rng.integers(-5, 5, size=rng.integers(1, 40)).astype(np.int32)
        for _ in range(200)
    ] + [
        rng.integers(0, 1 << 20, size=rng.integers(1, 40)).astype(np.int32)
        for _ in range(200)
    ]
    lengths = np.array([len(r) for r in rows], dtype=np.int64)
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.concatenate(rows)
    k = parse_flat(flat, offsets)
    for i, r in enumerate(rows):
        assert k["n_distinct"][i] == len(set(r.tolist())), i
        assert k["tok_sum"][i] == int(r.sum())
        assert k["tok_max"][i] == int(r.max())


def test_parse_batch_empty_input():
    out = _parse([])
    assert list(out) == ["tokens", *COLS]
    assert all(len(v) == 0 for v in out.values())


def test_sig_only_first_8_tokens():
    long = list(range(10, 30))  # sig from first 8 only
    out = _parse([long])
    # first 8 tokens are 10..17 → sig "01234567" → even_head (no doubles, no 42)
    assert out["payload_class"][0] == "even_head"


@pytest.mark.usefixtures("spark")
def test_arrow_and_builtin_parse_paths_agree(spark):
    """mapInArrow and pure-JVM built-ins agree row-for-row."""
    seqs = gen_sequences(spark, 3_000)
    sel = lambda df: df.orderBy("doc_id").select("doc_id", *COLS).collect()  # noqa: E731
    assert sel(parse_stage(seqs)) == sel(parse_stage_builtin(seqs))


def test_parse_stage_schema(spark):
    seqs = gen_sequences(spark, 10)
    out = parse_stage(seqs)
    for c in COLS:
        assert c in out.columns
    row = out.filter("n_tok = 0").first()
    assert row is not None and row.payload_class == "empty" and row.tok_sum == 0
