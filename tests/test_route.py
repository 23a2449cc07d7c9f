from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstash_forwarder_spark.datagen import default_routes, gen_sequences, gen_source_dim
from logstash_forwarder_spark.pipeline import PipelineSpec, build_plan
from logstash_forwarder_spark.operators.route import (
    RouteError,
    compile_routes,
    route_stage,
    sink_names,
)


def test_route_requires_catchall():
    with pytest.raises(RouteError):
        compile_routes([(0, "n_tok > 1", "a")])
    with pytest.raises(RouteError):
        compile_routes([])


def test_route_every_row_exactly_one_sink(spark, tmp_out):
    seqs = gen_sequences(spark, 2_000)
    spec = PipelineSpec(out_dir=tmp_out, routes=default_routes())
    routed = build_plan(seqs, gen_source_dim(spark), spec)
    assert routed.filter(F.col("sink").isNull()).count() == 0
    assert routed.count() == 2_000
    found = {r.sink for r in routed.select("sink").distinct().collect()}
    assert found <= set(sink_names(default_routes()))


def test_route_first_match_wins(spark):
    # a row matching both rule 0 and rule 1 must take rule 0's sink
    rules = [(0, "n_tok > 1", "first"), (1, "n_tok > 0", "second"), (2, "true", "dflt")]
    df = spark.createDataFrame([(5,), (1,), (0,)], "n_tok int")
    got = {r.n_tok: r.sink for r in route_stage(df, rules).collect()}
    assert got == {5: "first", 1: "second", 0: "dflt"}


def test_route_priority_order_not_list_order(spark):
    rules = [(1, "n_tok > 0", "second"), (0, "n_tok > 1", "first"), (2, "true", "dflt")]
    df = spark.createDataFrame([(5,)], "n_tok int")
    assert route_stage(df, rules).first().sink == "first"


def test_route_rejects_path_escaped_sink_names():
    import pytest

    from logstash_forwarder_spark.operators.route import RouteError, compile_routes

    for bad in ("logs:app", "a=b", "x/y", "p%20q", "sp ace"):
        with pytest.raises(RouteError, match="partition directory"):
            compile_routes([(0, "true", bad)])
    # safe charset is accepted
    compile_routes([(0, "true", "sink_ok-1.2")])


def test_es_bulk_framing_and_escaping(spark):
    import json

    from logstash_forwarder_spark.operators.route import es_bulk_stage

    df = spark.createDataFrame(
        [
            (1, "logs-app", 'he said "hi"\nline2', 42),
            (2, "logs-app", None, 7),
        ],
        "event_id long, idx string, msg string, n long",
    )
    rows = {
        r.event_id: r.bulk
        for r in es_bulk_stage(df, "idx", "event_id", ["msg", "n"]).collect()
    }
    for eid, bulk in rows.items():
        action, source = bulk.split("\n", 1)
        meta = json.loads(action)
        assert meta == {"index": {"_index": "logs-app", "_id": str(eid)}}
        doc = json.loads(source)  # quotes/newlines in msg must be escaped
        assert list(doc) == ["msg", "n"]
    assert json.loads(rows[1].split("\n", 1)[1])["msg"] == 'he said "hi"\nline2'
    # ignoreNullFields=false: null survives as an explicit JSON null
    assert json.loads(rows[2].split("\n", 1)[1])["msg"] is None


def test_es_bulk_plan_is_shuffle_free(spark):
    from logstash_forwarder_spark.operators.route import es_bulk_stage

    df = spark.createDataFrame(
        [(i, "ix", i * 2) for i in range(10)], "event_id long, idx string, n long"
    )
    plan = (
        es_bulk_stage(df, "idx", "event_id", ["n"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_es_bulk_hypothesis_json_escaping(spark):
    """Arbitrary unicode payloads survive the bulk framing: the source
    line parses back to exactly the input via json.loads."""
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from logstash_forwarder_spark.operators.route import es_bulk_stage

    @settings(max_examples=15, deadline=None)
    @given(
        st.lists(
            st.text(max_size=40).filter(lambda s: "\x00" not in s),
            min_size=1,
            max_size=5,
        )
    )
    def check(msgs):
        df = spark.createDataFrame(
            [(i, "ix", m) for i, m in enumerate(msgs)],
            "event_id long, idx string, msg string",
        )
        rows = {
            r.event_id: r.bulk
            for r in es_bulk_stage(df, "idx", "event_id", ["msg"]).collect()
        }
        for i, m in enumerate(msgs):
            action, source = rows[i].split("\n", 1)
            assert json.loads(action)["index"]["_id"] == str(i)
            assert json.loads(source)["msg"] == m

    check()
