"""The per-(sink, source) aggregate, its skew bound (SURVEY §7.3 hard
part 3) + registrar fold."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import gen_sequences
from logstash_forwarder_spark.operators.aggregate import (
    last_offset_per_source,
    sink_source_counts,
)


def test_sink_source_counts_shape(spark):
    df = gen_sequences(spark, 1_000).withColumn(
        "sink", F.when(F.col("n_tok") > 100, "big").otherwise("small")
    )
    out = sink_source_counts(df)
    assert set(out.columns) == {"sink", "source", "row_count", "token_total", "max_tokens"}
    total = out.agg(F.sum("row_count")).first()[0]
    assert total == 1_000


def test_sink_source_counts_combines_before_its_one_exchange(spark):
    """The skew bound: count/sum/max combine map-side, so a hot source's
    reducer reads one partial row per map task, not the key's raw rows.
    The executed plan has exactly one Exchange, with a ``partial_``
    HashAggregate beneath it."""
    df = gen_sequences(spark, 5_000).withColumn(
        "sink", F.when(F.col("n_tok") > 100, "big").otherwise("small")
    )
    out = sink_source_counts(df)
    out.collect()  # settle AQE on the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints Final + Initial plan sections; count only the final one
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final
    above, below = final.split("Exchange")
    assert "partial_count(1)" in below and "partial_max" in below, final
    assert "HashAggregate" in above and "partial_" not in above, final


def test_last_offset_per_source(spark):
    """O-A1: the registrar's max-by fold (registrar.go:12-29)."""
    df = spark.createDataFrame(
        [("a", "a-1"), ("a", "a-9"), ("a", "a-5"), ("b", "b-2")],
        "source string, doc_id string",
    )
    got = {r.source: r.last_offset for r in last_offset_per_source(df).collect()}
    assert got == {"a": "a-9", "b": "b-2"}


def test_revenue_topk_plan_shape(spark):
    """Q3-shape star join: equi-joins only (no cartesian / nested-loop),
    the filtered customer dim on a broadcast side, and the top-10 as
    TakeOrderedAndProject — never a global sort materialization."""
    from logstash_forwarder_spark.queries import q_revenue_topk

    df = q_revenue_topk(spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_revenue_joins_unhinted_scale_fallback(spark):
    """VERDICT r4 #2: customer/supplier carry NO hard F.broadcast hint in
    q_regional_revenue / q_revenue_topk (they grow linearly with scale; a
    hard hint would OOM the driver at 100×). Two regimes, same results:

    * gate SF, default threshold — AQE/statistics still pick
      BroadcastHashJoin everywhere (no shuffle join appears), so dropping
      the hints costs nothing at test scale;
    * autoBroadcastJoinThreshold=-1 (the 100× stand-in) — the unhinted
      joins genuinely degrade to shuffle joins while the HINTED
      constant-size dims (region/nation) stay broadcast, and the oracle
      result is bit-identical.
    """
    from logstash_forwarder_spark.queries import q_regional_revenue, q_revenue_topk

    sf = "/root/testdata/sf0.001"
    rr0 = q_regional_revenue(spark, sf)
    base_rr = sorted(map(tuple, rr0.collect()))
    plan0 = rr0._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan0
    assert "SortMergeJoin" not in plan0 and "ShuffledHashJoin" not in plan0
    base_tk = q_revenue_topk(spark, sf).collect()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rr = q_regional_revenue(spark, sf)
        got_rr = sorted(map(tuple, rr.collect()))
        plan_rr = rr._jdf.queryExecution().executedPlan().toString()
        tk = q_revenue_topk(spark, sf)
        got_tk = tk.collect()
        plan_tk = tk._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    for plan in (plan_rr, plan_tk):
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # hinted constant-size dims still broadcast even with stats disabled
    assert "BroadcastHashJoin" in plan_rr
    assert got_rr == base_rr
    assert sorted(map(tuple, got_tk)) == sorted(map(tuple, base_tk))


def test_rate_anomaly_planted_spike(spark, tmp_path):
    """A 10x burst hour after 6 quiet hours must flag spike=1; quiet hours
    and hours with incomplete trailing history must not."""
    import datetime

    from logstash_forwarder_spark.queries import q_rate_anomaly

    rows = []
    eid = 0
    base = datetime.datetime(2024, 1, 1)
    for h in range(8):
        n = 100 if h == 7 else 10  # burst in the 8th hour
        for _ in range(n):
            rows.append((eid, base + datetime.timedelta(hours=h), 1, "login", 1.0, "{}"))
            eid += 1
    from .conftest import EVENTS_SCHEMA

    df = spark.createDataFrame(rows, EVENTS_SCHEMA)
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/events.parquet")
    out = {r.hour: r for r in q_rate_anomaly(spark, sf).collect()}
    assert out["2024-01-01 07"].spike == 1
    assert out["2024-01-01 07"].trailing_sum == 60
    # quiet full-history hour: not a spike
    assert out["2024-01-01 06"].spike == 0
    # first hours lack 6h history: never flagged
    assert all(out[f"2024-01-01 0{h}"].spike == 0 for h in range(6))
