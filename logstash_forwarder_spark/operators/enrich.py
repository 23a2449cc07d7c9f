"""O-P3 / O-J1 — enrich: left-join lookup metadata onto events, inside
the parse kernel.

The reference attaches a constant-per-path ``fields`` map to every event
(/root/reference/harvester.go:84, config.go:40) and adds host/file/offset
metadata per frame (/root/reference/publisher1.go:224-240). Generalized here
to a true lookup table (one row per source), joined the way a broadcast
join does it: the dim's rows are collected ONCE in the driver
(:func:`dim_rows`; a ``LocalRelation`` dim starts no job) and every task
hash-joins them onto its own rows — no shuffle, which is the only join
shape that survives a 100 TB fact side.

There is one enrich, :func:`parse_enrich`: ``parse_batch`` then
:func:`enrich_batch`'s pyarrow left join. Both ``run_pipeline`` backends
run it — the Spark backend on every Arrow batch inside ONE
``mapInArrow`` (:func:`parse_enrich_stage`, the dim riding the kernel's
closure as a broadcast would ride the executors), the driver backend on
the table it fetched. Its columns keep a Spark USING join's layout
(:func:`enriched_schema`), so both backends write one file schema.
"""

from __future__ import annotations

import socket

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .parse import parse_batch, parsed_schema

KEY = "source"


def dim_rows(source_dim: DataFrame) -> pa.RecordBatch:
    """The dim's rows in the driver, as one Arrow batch of its schema."""
    return pa.RecordBatch.from_pylist(
        [r.asDict() for r in source_dim.collect()],
        schema=to_arrow_schema(source_dim.schema),
    )


def enrich_batch(parsed: pa.RecordBatch | pa.Table, dim: pa.RecordBatch):
    """Left-join ``dim`` onto ``parsed`` on ``source``, as Spark's left
    join does: a source missing from the dim, or null, keeps its row with
    null dim columns; a source the dim repeats repeats its row. Only row
    indices go through the hash join (pyarrow joins no map payload); the
    columns are gathered after it."""
    hits = (
        pa.table({KEY: parsed.column(KEY), "_row": np.arange(parsed.num_rows)})
        .join(
            pa.table({KEY: dim.column(KEY), "_dim": np.arange(dim.num_rows)}),
            KEY,
            join_type="left outer",
            use_threads=False,
        )
        .sort_by("_row")
    )
    left = parsed.take(hits["_row"].combine_chunks())
    right = dim.take(hits["_dim"].combine_chunks()).drop_columns(KEY)
    # a USING join's layout: the key, the rest of the left, the right
    left = left.select([KEY] + [n for n in left.schema.names if n != KEY])
    return type(parsed).from_arrays(
        left.columns + right.columns, names=left.schema.names + right.schema.names
    )


def parse_enrich(batch: pa.RecordBatch | pa.Table, dim: pa.RecordBatch):
    """The kernel both backends run: parse ``batch`` — an Arrow batch in
    a Spark task, the fetched table in the driver — then enrich it; the
    result is of ``batch``'s type."""
    return enrich_batch(parse_batch(batch), dim)


def enriched_schema(schema: T.StructType, dim_schema: T.StructType) -> T.StructType:
    """The Spark schema :func:`parse_enrich` gives rows of ``schema``: a
    USING join's layout — ``source``, the rest of the parsed columns, then
    the dim's, nullable."""
    left = T.StructType.fromDDL(parsed_schema(schema))
    right = [T.StructField(f.name, f.dataType, True) for f in dim_schema.fields]
    return T.StructType([left[KEY]] + [f for f in left.fields + right if f.name != KEY])


def parse_enrich_stage(df: DataFrame, source_dim: DataFrame) -> DataFrame:
    """:func:`parse_enrich` over every Arrow batch of ``df``: one
    ``mapInArrow``, the dim's rows in its closure."""
    dim = dim_rows(source_dim)
    return df.mapInArrow(
        lambda batches: (parse_enrich(b, dim) for b in batches),
        schema=enriched_schema(df.schema, source_dim.schema),
    )


def annotate(df: DataFrame, run_id: str, part_id: Column | None = None) -> DataFrame:
    """The per-event metadata added after the enrich: ``host`` (constant
    per driver, publisher1.go:25-30), ``run_id`` and ``part_id`` (the
    lineage key; by default the input partition)."""
    host = F.lit(socket.gethostname())
    part = F.spark_partition_id() if part_id is None else part_id
    return df.withColumns({"host": host, "run_id": F.lit(run_id), "part_id": part})
