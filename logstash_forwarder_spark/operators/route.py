"""O-R1 — routing: deterministic rule-based fan-out to sinks.

Replaces the reference's random server pick + failover
(/root/reference/publisher1.go:168-196) with an ordered predicate table
compiled into a single ``when/otherwise`` chain — one narrow JVM expression,
whole-stage-codegen'd, evaluated once per row with first-match-wins
semantics. Failover becomes Spark task retry + idempotent sink commits
(plans/registrar.py).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class RouteError(ValueError):
    pass


def compile_routes(rules: list[tuple[int, str, str]]) -> Column:
    """Ordered (priority, sql_predicate, sink) → one when/otherwise Column.

    Requires a catch-all (predicate ``true``) terminal rule so every row
    routes to exactly one sink — the exhaustiveness the tests assert.
    """
    if not rules:
        raise RouteError("empty route table")
    for _, _, sink in rules:
        # sink names become `sink=<name>` partition directories, named
        # verbatim by the pipeline's writer; Spark's partition discovery
        # unescapes them on read ('%3A' → ':') and splits on '/' and '=',
        # so any character Hive path-escapes (':', '=', '/', '%', …)
        # would read back as a different sink than the raw name the
        # commit loop keys by — a silent exactly-once violation. Reject
        # at plan-construction time.
        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", sink):
            raise RouteError(
                f"sink name {sink!r} must match [A-Za-z0-9_.-]+ "
                "(it becomes a partition directory name verbatim)"
            )
    ordered = sorted(rules, key=lambda r: r[0])
    if ordered[-1][1].strip().lower() != "true":
        raise RouteError("route table must end with a catch-all 'true' rule")
    col: Column | None = None
    for _, predicate, sink in ordered[:-1]:
        branch = F.when(F.expr(predicate), F.lit(sink))
        col = branch if col is None else col.when(F.expr(predicate), F.lit(sink))
    default = F.lit(ordered[-1][2])
    return default if col is None else col.otherwise(default)


def route_stage(
    df: DataFrame, rules: list[tuple[int, str, str]], sink_col: str = "sink"
) -> DataFrame:
    return df.withColumn(sink_col, compile_routes(rules))


def sink_names(rules: list[tuple[int, str, str]]) -> list[str]:
    return sorted({sink for _, _, sink in rules})


def es_bulk_stage(
    df: DataFrame,
    index_col: str | Column,
    id_col: str,
    doc_cols: list[str],
    dest: str = "bulk",
) -> DataFrame:
    """Elasticsearch bulk-API framing — the wire format the forwarder's
    events ultimately reach (forwarder → logstash → ES ``_bulk``; the
    reference's README positions it exactly there). Each row becomes the
    action+source line pair::

        {"index":{"_index":"<idx>","_id":"<id>"}}
        {<doc json>}

    The source line is compact ``to_json`` with ``ignoreNullFields=false``
    (proper string escaping, ``"k":null`` preserved — logstash semantics);
    the action line is a plain concat (its fields are caller-controlled
    identifiers, never free text). One codegen'd row-local Project, zero
    shuffle at any scale; a whole POST body for a micro-batch partition is
    just ``array_join(collect_list(bulk), '\\n')`` downstream.
    """
    idx = F.col(index_col) if isinstance(index_col, str) else index_col
    action = F.concat(
        F.lit('{"index":{"_index":"'),
        idx,
        F.lit('","_id":"'),
        F.col(id_col).cast("string"),
        F.lit('"}}'),
    )
    source = F.to_json(
        F.struct(*[F.col(c) for c in doc_cols]), {"ignoreNullFields": "false"}
    )
    return df.withColumn(dest, F.concat(action, F.lit("\n"), source))
