"""Join-skew handling: AQE must split a hot join key's partition at
runtime (the join-side complement of the map-side-combined groupBy
aggregate, tests/test_aggregate.py)."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_splits_skewed_join_partition(spark):
    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        facts = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id") % 500)
            .alias("k"),
            F.concat(F.lit("payload_"), F.col("id").cast("string")).alias("v"),
        )
        dim = spark.range(500).select(
            F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("w")
        )
        j = facts.join(dim, "k")
        n = len(j.collect())  # executes THIS QueryExecution (AQE finalizes)
        assert n == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_report_recommends_bounding_buckets(spark):
    """The report's salt_buckets actually bounds (key, salt) group sizes
    when fed to a hash salt on the row id."""
    from pyspark.sql import functions as F

    from logstash_forwarder_spark.operators.aggregate import skew_report

    rows = (
        [(i, "hot") for i in range(9_000)]
        + [(i + 9_000, "warm") for i in range(1_500)]
        + [(i + 20_000, f"cold{i % 5}") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "doc_id long, key string")
    rep = {r.key: r for r in skew_report(df, "key", target_rows=1_000).collect()}
    assert rep["hot"].n_rows == 9_000 and rep["hot"].salt_buckets == 9
    assert rep["warm"].salt_buckets == 2
    assert rep["hot"].share_ppm == 9_000 * 1_000_000 // 11_000
    assert all(r.salt_buckets == 1 for k, r in rep.items() if k.startswith("cold"))

    # apply the recommendation with a hash salt on doc_id:
    # every (key, salt) group lands near/below the target (hash slack)
    buckets = rep["hot"].salt_buckets
    sizes = [
        r.n
        for r in df.where(F.col("key") == "hot")
        .withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
        .groupBy("key", "_salt")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == buckets
    assert max(sizes) <= 1_000 * 1.5  # uniform-hash slack


def test_skew_report_topk_deterministic_ties(spark):
    from logstash_forwarder_spark.operators.aggregate import skew_report

    rows = [(i, f"k{i % 6}") for i in range(60)]  # all six keys tied at 10
    df = spark.createDataFrame(rows, "doc_id long, key string")
    got = [r.key for r in skew_report(df, "key", top_k=3).collect()]
    assert got == ["k0", "k1", "k2"]  # ties break on key ASC
