"""Bucketed co-located joins — pay the shuffle ONCE at publish time,
then every downstream join/aggregate on the bucket key is exchange-free.

The 100 TB rationale: the corpus tables this engine joins repeatedly on
``doc_id`` (documents ⋈ signatures, documents ⋈ pack assignments,
registrar lineage ⋈ published rows) each pay a data-sized shuffle PER
JOIN when stored as plain parquet. Hive-style bucketing moves that
shuffle to write time: ``bucketBy(n, key)`` hash-partitions rows into a
fixed bucket count inside each writing task's output, and Spark's scan
reports ``HashPartitioning(key, n)`` as the read-side distribution — a
join of two tables bucketed the same way needs NO Exchange on either
side. (``sortBy`` keeps each bucket file internally sorted, but the
scan does NOT report that ordering by default — SPARK-28595 gated it
behind ``spark.sql.legacy.bucketedTableScan.outputOrdering`` because
honoring it forces one-file-at-a-time bucket reads; the default's
cheap in-memory re-sort beats a serialized scan, so we keep it and the
SortMergeJoin re-sorts locally WITHOUT any exchange.)
One publish shuffle amortizes over every subsequent join of the table's
lifetime; at a 1000-executor scale that is the difference between one
100 TB exchange per pipeline run and one per query.

This is the same write-side idea as the registrar's sink partitioning
(``pipeline.py`` routes by sink; reference analog: per-server spool
files, `publisher1.go`), applied to the JOIN key instead of the routing
key. Spark's bucketing needs a catalog table (the bucket spec lives in
catalog metadata, not in the files), so these helpers register EXTERNAL
tables at an explicit ``path`` — the warehouse never silently lands in
the CWD, and the parquet files remain readable as plain files by
non-Spark readers (DuckDB just ignores the bucket spec).

Caveats encoded here rather than re-learned:

* bucket pruning/co-location only engages via ``spark.table(name)`` —
  reading the path directly loses the bucket metadata;
* both join sides must have the SAME bucket count on the SAME key
  (enforced by :func:`assert_colocated`);
* each writing task creates one file per non-empty bucket — repartition
  by the bucket key first so the file count is ~``n_buckets``, not
  ``tasks × n_buckets`` (done inside :func:`write_bucketed`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    *,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Publish ``df`` as an external parquet table bucketed (and by
    default sorted) on ``bucket_cols``. The ``repartition`` on the
    bucket key is the ONE shuffle this table ever pays for that key —
    it also bounds the file count at ~``n_buckets``, one file per
    bucket. (A within-partition Sort remains on read: Spark ≥3.0 drops
    bucket sort-order propagation by default;
    ``spark.sql.legacy.bucketedTableScan.outputOrdering`` restores it
    for single-file buckets.)"""
    if n_buckets <= 0:
        raise ValueError("write_bucketed: n_buckets must be positive")
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.format("parquet")
        .option("path", path)
        .mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(name)


def bucket_spec(spark: SparkSession, name: str) -> tuple[list[str], int]:
    """(bucket columns, bucket count) of a catalog table, from DESCRIBE
    EXTENDED (the public surface for the bucket spec)."""
    rows = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE EXTENDED {name}").collect()
    }
    if "Num Buckets" not in rows:
        raise ValueError(f"bucket_spec: {name} is not bucketed")
    cols = [c.strip("`") for c in rows["Bucket Columns"].strip("[]").split(", ")]
    return cols, int(rows["Num Buckets"])


def assert_colocated(spark: SparkSession, left: str, right: str) -> None:
    """Raise unless the two tables share bucket key and count — the
    precondition for an exchange-free join."""
    lc, ln = bucket_spec(spark, left)
    rc, rn = bucket_spec(spark, right)
    if lc != rc or ln != rn:
        raise ValueError(
            f"assert_colocated: {left} is bucketed {lc}×{ln}, "
            f"{right} is bucketed {rc}×{rn}"
        )


def colocated_join(
    spark: SparkSession, left: str, right: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed catalog tables on their bucket key. The
    returned plan has no Exchange on either side (asserted in
    tests/test_bucketing.py under autoBroadcastJoinThreshold=-1, the
    at-scale regime where neither side broadcasts)."""
    assert_colocated(spark, left, right)
    return spark.table(left).join(spark.table(right), on=on, how=how)
