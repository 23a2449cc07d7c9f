from __future__ import annotations

from logstash_forwarder_spark.operators.joins import asof_join, range_bucket_join


def test_asof_join_basic(spark):
    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u1", 5, "c"), ("u2", 7, "d")],
        "user string, ts long, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 8, 100), ("u1", 15, 200), ("u3", 1, 999)],
        "user string, ts long, val long",
    )
    out = {
        (r.user, r.ts): r.val_matched
        for r in asof_join(
            left, right, on="ts", by="user", value_cols=["val"]
        ).collect()
    }
    assert out == {
        ("u1", 10): 100,  # latest right ts<=10 is 8
        ("u1", 20): 200,  # latest right ts<=20 is 15
        ("u1", 5): None,  # nothing before 5
        ("u2", 7): None,  # no right rows for u2
    }


def test_asof_join_equal_ts_inclusive(spark):
    left = spark.createDataFrame([("u", 10, "x")], "user string, ts long, tag string")
    right = spark.createDataFrame([("u", 10, 7)], "user string, ts long, val long")
    row = asof_join(left, right, on="ts", by="user", value_cols=["val"]).first()
    assert row.val_matched == 7  # <= is inclusive


def test_asof_join_null_field_not_backfilled(spark):
    """All matched values must come from the SAME (latest) right row: a NULL
    field in the latest match must stay NULL, not be backfilled from an
    older right row (which would fabricate a composite row)."""
    left = spark.createDataFrame([("u", 20, "x")], "user string, ts long, tag string")
    right = spark.createDataFrame(
        [("u", 5, 100, 1), ("u", 15, None, 2)],
        "user string, ts long, val long, other long",
    )
    row = asof_join(
        left, right, on="ts", by="user", value_cols=["val", "other"]
    ).first()
    assert row.other_matched == 2  # latest right row (ts=15)
    assert row.val_matched is None  # its NULL val is NOT filled from ts=5


def test_range_bucket_join(spark):
    points = spark.createDataFrame([(1, 5), (2, 25), (3, 99)], "id long, x long")
    ranges = spark.createDataFrame(
        [(0, 10, "lo"), (20, 30, "mid"), (90, 99, "hi"), (200, 300, "none")],
        "lo long, hi long, label string",
    )
    out = {
        r.id: r.label
        for r in range_bucket_join(
            points, ranges, left_point="x", right_lo="lo", right_hi="hi", bucket_width=16
        ).collect()
    }
    assert out == {1: "lo", 2: "mid", 3: "hi"}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located big-big join: both sides bucketed by the key into the
    same bucket count -> SortMergeJoin with NO Exchange in the executed
    plan (the shuffle was paid once, at write time; a within-partition
    Sort remains — Spark >=3.0 drops bucket sort-order propagation)."""
    from logstash_forwarder_spark.plans.bucketing import write_bucketed

    n = 20_000
    facts = spark.range(n).selectExpr("id", "id % 97 AS v")
    dims = spark.range(n).selectExpr("id", "id % 31 AS w")
    write_bucketed(
        facts, "b_facts", bucket_cols=["id"], n_buckets=8,
        path=str(tmp_path / "b_facts"),
    )
    write_bucketed(
        dims, "b_dims", bucket_cols=["id"], n_buckets=8,
        path=str(tmp_path / "b_dims"),
    )
    # pin the join to SMJ so the assertion tests bucketing, not broadcast
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_facts").join(spark.table("b_dims"), "id")
        assert joined.count() == n
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # equivalent non-bucketed join DOES shuffle — the baseline to beat
        plain = facts.join(dims, "id")
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_facts")
        spark.sql("DROP TABLE IF EXISTS b_dims")
