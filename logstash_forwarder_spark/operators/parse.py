"""O-P1 — the parse stage: grok/regex-style field extraction over token
payloads, Arrow-vectorized (no per-row Python in the hot path).

The reference builds one FileEvent per harvested line
(/root/reference/harvester.go:76-89). Here payloads are parsed in whole
Arrow batches. Two implementations with identical semantics:

* ``parse_stage``          — ``mapInArrow`` (the pipeline's): computes
                             directly on the Arrow ListArray's values/offsets
                             buffers, zero-copy, zero per-row objects. The
                             memory-leanest path — at high worker
                             concurrency the kernel is bandwidth-bound, so
                             bytes touched ≈ wall time.
* ``parse_stage_builtin``  — pure JVM built-ins (higher-order functions);
                             slow (interpreted, not codegen) but a fully
                             independent semantics witness for tests.

The kernel (``parse_flat``, a pure (values, offsets) → columns function)
and its per-batch wrapper (``parse_batch``, what ``parse_stage`` runs on
each Arrow batch) are unit-testable without Spark.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import PARSED_FIELDS_SCHEMA

# Signature = first SIG_LEN tokens mod 10 as digits; the classes below are
# the grok-style "regex over the payload" (^(\d)\1 / contains '42' / ^[02468]).
SIG_LEN = 8

PARSED_COLS = [f.name for f in PARSED_FIELDS_SCHEMA]


def parse_flat(flat: np.ndarray, offsets: np.ndarray) -> dict[str, np.ndarray]:
    """Kernel: token values + list offsets → parsed columns.

    ``flat`` is the contiguous int32 token buffer; ``offsets`` (int64,
    len = n_rows+1) delimits each row's slice (need not start at 0 — Arrow
    batch slices carry absolute offsets). Empty rows yield sentinel -1 in
    head/tail/max/distinct (masked to null by the callers) and tok_sum = 0.

    Everything is int32-lean and sequential-access: at 32 concurrent
    workers the cost is memory traffic, not instructions.
    """
    n = len(offsets) - 1
    # normalize: a sliced Arrow batch carries absolute offsets into the full
    # child buffer — rebase so flat[0] is the first row's first token and
    # flat ends exactly at the last row's last token (reduceat's final
    # segment runs to the end of the array).
    base = int(offsets[0])
    end = int(offsets[-1])
    flat = flat[base:end]
    starts = (offsets[:-1] - base).astype(np.int64)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
    total = int(lengths.sum())
    nonempty = lengths > 0
    ne_starts = starts[nonempty]

    head = np.full(n, -1, dtype=np.int64)
    tail = np.full(n, -1, dtype=np.int64)
    head[nonempty] = flat[ne_starts]
    tail[nonempty] = flat[(starts + lengths - 1)[nonempty]]

    tok_sum = np.zeros(n, dtype=np.int64)
    tok_max = np.full(n, -1, dtype=np.int64)
    n_distinct = np.zeros(n, dtype=np.int64)
    if total:
        tok_sum[nonempty] = np.add.reduceat(flat, ne_starts, dtype=np.int64)
        tok_max[nonempty] = np.maximum.reduceat(flat, ne_starts)
        # distinct per row: sort a packed key (row | token), count changes.
        # int32 packing when the batch is small enough (vocab < 2^16).
        row_idx = np.repeat(np.arange(n, dtype=np.int64), lengths)
        vals = flat
        if n <= (1 << 15) and vals.size and 0 <= int(vals.min()) and int(vals.max()) < (1 << 16):
            key = (row_idx.astype(np.int32) << 16) | vals
        else:
            # mask to 32 bits: negative token values would sign-extend into
            # the row bits and corrupt the per-row distinct count
            key = (row_idx << 32) | (vals.astype(np.int64) & 0xFFFFFFFF)
        key.sort()
        changed = np.empty(total, dtype=bool)
        changed[0] = True
        np.not_equal(key[1:], key[:-1], out=changed[1:])
        srow = (key >> 16 if key.dtype == np.int32 else key >> 32).astype(np.int64)
        n_distinct = np.bincount(srow[changed], minlength=n)

    # signature digits: first SIG_LEN tokens per row, padded with -1
    dig = np.full((n, SIG_LEN), -1, dtype=np.int64)
    col_pos = starts[:, None].astype(np.int64) + np.arange(SIG_LEN)[None, :]
    valid = np.arange(SIG_LEN)[None, :] < lengths[:, None]
    dig[valid] = flat[col_pos[valid]] % 10
    doubled = (dig[:, 0] >= 0) & (dig[:, 0] == dig[:, 1])  # regex ^(\d)\1
    answer = ((dig[:, :-1] == 4) & (dig[:, 1:] == 2)).any(axis=1)  # '42'
    even = (dig[:, 0] >= 0) & (dig[:, 0] % 2 == 0)
    payload_class = np.select(
        [~nonempty, doubled, answer, even],
        ["empty", "doubled", "answer", "even_head"],
        default="odd_head",
    )
    return {
        "head_token": head,
        "tail_token": tail,
        "tok_sum": tok_sum,
        "tok_max": tok_max,
        "n_distinct": n_distinct,
        "payload_class": payload_class,
        "_empty_mask": ~nonempty,
    }


def parse_batch(b: pa.RecordBatch | pa.Table, tokens_col: str = "tokens"):
    """``b`` (a batch, or a table as the driver fetches it) with the
    parsed columns appended: zero-copy on the tokens column's Arrow
    buffers, no per-row ndarray objects, the nullable ints masked null
    for empty rows at the Arrow level."""
    col = b.column(b.schema.get_field_index(tokens_col))
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.values.to_numpy(zero_copy_only=True)
    offsets = col.offsets.to_numpy(zero_copy_only=True).astype(np.int64)
    k = parse_flat(flat, offsets)
    mask = np.ascontiguousarray(k.pop("_empty_mask"))  # True = null
    arrays = list(b.columns) + [
        pa.array(k["head_token"], pa.int32(), mask=mask),
        pa.array(k["tail_token"], pa.int32(), mask=mask),
        pa.array(k["tok_sum"], pa.int64()),
        pa.array(k["tok_max"], pa.int32(), mask=mask),
        pa.array(k["n_distinct"], pa.int32(), mask=mask),
        pa.array(k["payload_class"].astype(object), pa.string()),
    ]
    names = [f.name for f in b.schema] + PARSED_COLS
    return type(b).from_arrays(arrays, names=names)


def parse_stage(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """The pipeline's parse: :func:`parse_batch` over every Arrow batch
    (``mapInArrow``)."""

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            yield parse_batch(b, tokens_col)

    return df.mapInArrow(op, schema=parsed_schema(df.schema))


def parsed_schema(schema: T.StructType) -> str:
    """The schema :func:`parse_batch` gives rows of ``schema``: its
    columns, then the parsed ones (DDL, every column nullable)."""
    return ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in schema.fields]
        + [f"{f.name} {f.dataType.simpleString()}" for f in PARSED_FIELDS_SCHEMA]
    )


def _sig_builtin(tokens: Column) -> Column:
    return F.concat_ws(
        "",
        F.transform(
            F.slice(tokens, 1, SIG_LEN), lambda t: F.pmod(t, F.lit(10)).cast("string")
        ),
    )


def parse_stage_builtin(df: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Same semantics, pure JVM built-ins — the independent witness used by
    tests (higher-order functions are interpreted, so this is NOT the fast
    path; it exists to prove the Arrow kernel right)."""
    t = F.col(tokens_col)
    sig = _sig_builtin(t)
    empty = F.size(t) == 0
    return (
        df.withColumn("head_token", F.when(~empty, t.getItem(0)).cast("int"))
        .withColumn("tail_token", F.when(~empty, F.element_at(t, -1)).cast("int"))
        .withColumn(
            "tok_sum",
            F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + x),
        )
        .withColumn("tok_max", F.when(~empty, F.array_max(t)).cast("int"))
        .withColumn(
            "n_distinct", F.when(~empty, F.size(F.array_distinct(t))).cast("int")
        )
        .withColumn(
            "payload_class",
            F.when(empty, F.lit("empty"))
            .when(sig.rlike(r"^(\d)\1"), F.lit("doubled"))
            .when(sig.contains("42"), F.lit("answer"))
            .when(F.substring(sig, 1, 1).isin(*list("02468")), F.lit("even_head"))
            .otherwise(F.lit("odd_head")),
        )
    )
