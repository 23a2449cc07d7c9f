"""O-P3 / O-J1 — enrich: broadcast hash-join lookup metadata onto events.

The reference attaches a constant-per-path ``fields`` map to every event
(/root/reference/harvester.go:84, config.go:40) and adds host/file/offset
metadata per frame (/root/reference/publisher1.go:224-240). Generalized here
to a true lookup table joined with ``F.broadcast`` — BroadcastHashJoinExec,
no shuffle, which is the only join shape that survives a 100 TB fact side.
"""

from __future__ import annotations

import socket

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def enrich_stage(
    df: DataFrame,
    source_dim: DataFrame,
    *,
    on: str = "source",
    run_id: str | None = None,
    with_host: bool = True,
) -> DataFrame:
    """Left broadcast-join the dim; unmatched sources keep NULL fields.

    The broadcast is pinned explicitly (SURVEY §4.5): after the mapInArrow
    parse stage Catalyst has no reliable stats, so don't trust
    autoBroadcastJoinThreshold to pick it.
    """
    out = df.join(F.broadcast(source_dim), on=on, how="left")
    return annotate(out, run_id=run_id, with_host=with_host)


def annotate(
    df: DataFrame,
    *,
    run_id: str | None = None,
    with_host: bool = True,
    part_id: Column | None = None,
) -> DataFrame:
    """The per-event metadata :func:`enrich_stage` adds after its join:
    ``host``, ``run_id`` and ``part_id`` (the lineage key; by default the
    input partition, ``spark_partition_id()``)."""
    if with_host:
        # host annotation, publisher1.go:25-30 — constant per driver
        df = df.withColumn("host", F.lit(socket.gethostname()))
    if run_id is not None:
        df = df.withColumn("run_id", F.lit(run_id))
    return df.withColumn(
        "part_id", F.spark_partition_id() if part_id is None else part_id
    )
