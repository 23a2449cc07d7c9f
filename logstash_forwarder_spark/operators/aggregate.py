"""O-A1/O-A2 — the pipeline's aggregates.

The reference's two aggregates — last-offset-per-source
(/root/reference/registrar.go:12-29) and batch count
(/root/reference/publisher1.go:82) — generalize to per-(sink, source) row
counts and token totals. A hot ``source`` (60% of rows in the fixture)
needs no salting here: count/sum/max are algebraic, so Spark runs a
partial HashAggregate in every map task BEFORE the one
``Exchange hashpartitioning``, and the hot key's reducer reads one partial
row per map task, never the key's raw rows (tests/test_aggregate.py
checks that plan shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _stats() -> list:
    """Per-group row count, token total and max tokens — the statistics
    ``_metrics`` carries (pipeline.py's writer computes the same three
    per file, in pyarrow)."""
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.sum("n_tok").alias("token_total"),
        F.max("n_tok").alias("max_tokens"),
    ]


def sink_source_counts(routed: DataFrame) -> DataFrame:
    """The north_rule's per-sink/per-source row counts + token totals."""
    return routed.groupBy("sink", "source").agg(*_stats())


def last_offset_per_source(df: DataFrame, offset_col: str = "doc_id") -> DataFrame:
    """O-A1 verbatim: registrar's max-by fold (registrar.go:12-29)."""
    return df.groupBy("source").agg(F.max(offset_col).alias("last_offset"))


def skew_report(
    df: DataFrame,
    key_col: str,
    *,
    target_rows: int = 1_000_000,
    top_k: int = 20,
) -> DataFrame:
    """Key-skew diagnostic — the measurement half of "skew handled
    explicitly": per hottest key, its row count, corpus share (ppm,
    integer-exact) and the SALT BUCKET COUNT that bounds any single
    (key, salt) group to ≤ ``target_rows`` rows — what a hash salt on
    that key needs where Spark cannot combine rows map-side (a
    non-algebraic aggregate, a skewed join side); count/sum/max need
    none (module docstring).

    Scale shape: ONE map-side-combinable hash-agg to the key domain;
    the grand total comes from a second 1-row agg broadcast back onto
    the domain relation (never an unpartitioned window over it — the
    domain can be large for high-cardinality keys); top-k is a
    TakeOrdered, deterministic under ties (key ASC tiebreak)."""
    counts = df.groupBy(
        F.col(key_col).cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key",
            "n_rows",
            F.expr("(n_rows * 1000000) div total").alias("share_ppm"),
            F.expr(f"(n_rows + {target_rows - 1}) div {target_rows}").alias(
                "salt_buckets"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "key")
        .limit(top_k)
    )
