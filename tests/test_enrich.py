"""The one enrich (operators/enrich.py) against an independent witness:
Catalyst's broadcast left join over ``parse_stage``, as
``parse_stage_builtin`` witnesses the parse kernel."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_forwarder_spark.operators.enrich import parse_enrich_stage
from logstash_forwarder_spark.operators.parse import parse_stage
from logstash_forwarder_spark.schema import SOURCE_DIM_SCHEMA


def _frozen(v):
    if isinstance(v, dict):
        return tuple(sorted(v.items()))
    if isinstance(v, list):
        return tuple(v)
    return v


def _multiset(df):
    return sorted(
        (tuple(_frozen(v) for v in r) for r in df.collect()), key=repr
    )


def test_kernel_enrich_matches_broadcast_left_join(spark):
    # "gone" is missing from the dim, one row has a null source, and the
    # dim repeats "dup": a left join repeats those rows once per dim row
    sources = ["a", "dup", "gone", None, "a", "dup"]
    seqs = spark.createDataFrame(
        [
            (f"d{i}", [i * 7 + j for j in range(i % 4)], i % 4, src)
            for i, src in enumerate(sources * 5)
        ],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).repartition(3)
    dim = spark.createDataFrame(
        [
            ("a", {"type": "apache"}),
            ("dup", {"type": "first"}),
            ("dup", {"type": "second", "env": "dev"}),
            ("unused", {"type": "ghost"}),
        ],
        SOURCE_DIM_SCHEMA,
    )
    got = parse_enrich_stage(seqs, dim)
    want = parse_stage(seqs).join(F.broadcast(dim), "source", "left")

    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    rows = _multiset(got)
    assert rows == _multiset(want)
    assert len(rows) == 40  # 30 input rows, the 10 "dup" rows doubled


def test_parse_enrich_keeps_the_input_type():
    """The driver backend runs the kernel on a fetched table, a Spark task
    on each batch: the same rows come back either way, with no row of an
    empty input."""
    import pyarrow as pa

    from logstash_forwarder_spark.operators.enrich import parse_enrich

    batch = pa.record_batch(
        {
            "doc_id": ["d0", "d1", "d2", "d3"],
            "tokens": pa.array([[4, 2], [], [7], [1, 1]], pa.list_(pa.int32())),
            "source": ["a", None, "gone", "dup"],
        }
    )
    dim = pa.record_batch(
        {"source": ["dup", "a", "dup"], "env": ["x", "prod", "y"]}
    )
    table = pa.Table.from_batches([batch.slice(0, 2), batch.slice(2)])
    from_batch = parse_enrich(batch, dim)
    from_table = parse_enrich(table, dim)
    assert isinstance(from_batch, pa.RecordBatch)
    assert isinstance(from_table, pa.Table)
    assert from_table.to_pylist() == from_batch.to_pylist()
    assert from_table.column_names[:2] == ["source", "doc_id"]
    assert [(r["doc_id"], r["env"]) for r in from_batch.to_pylist()] in (
        [("d0", "prod"), ("d1", None), ("d2", None), ("d3", "x"), ("d3", "y")],
        [("d0", "prod"), ("d1", None), ("d2", None), ("d3", "y"), ("d3", "x")],
    )
    empty = parse_enrich(table.slice(0, 0), dim)
    assert empty.num_rows == 0 and empty.column_names == from_table.column_names
