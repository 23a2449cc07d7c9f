from __future__ import annotations

import json

from logstash_forwarder_spark.datagen import gen_sequences
from logstash_forwarder_spark.run import main


def test_run_cli_input_path(spark, tmp_path, capsys):
    in_dir = str(tmp_path / "seqs")
    gen_sequences(spark, 1_000, num_partitions=2).write.parquet(in_dir)
    rc = main(["--input", in_dir, "--out", str(tmp_path / "out"), "--run-id", "cli1"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 1_000
    assert len(summary["sinks_committed"]) == 4

    # resume through the CLI: nothing re-staged
    rc = main(["--input", in_dir, "--out", str(tmp_path / "out"), "--run-id", "cli1"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 0
    assert summary["sinks_skipped"] == sorted(summary["sinks_skipped"])


def test_run_cli_manifest_mode(spark, tmp_path, capsys):
    """Every sink the CLI commits has a manifest: exactly-once resume and
    manifest-resolved reads total the input."""
    out = str(tmp_path / "outm")
    rc = main(["--gen", "800", "--out", out, "--run-id", "m1"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 800
    assert len(summary["sinks_committed"]) == 4

    rc = main(["--gen", "800", "--out", out, "--run-id", "m1"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 0 and len(summary["sinks_skipped"]) == 4

    import os

    from logstash_forwarder_spark.pipeline import read_sink
    from logstash_forwarder_spark.plans.manifest import read_manifest

    run_dir = os.path.join(out, "run_id=m1")
    total = 0
    for s in summary["sinks_skipped"]:
        m = read_manifest(run_dir, s)
        assert m is not None
        if m["files"]:
            total += read_sink(spark, out, "m1", s).count()
    assert total == 800


def test_run_cli_gen(spark, tmp_path, capsys):
    rc = main(["--gen", "500", "--out", str(tmp_path / "out2")])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 500


def test_run_cli_text_glob(spark, tmp_path, capsys):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "app.log").write_bytes(b"alpha beta\ngamma\n")
    (logs / "db.log").write_bytes(b"delta epsilon zeta\npartial")  # no newline

    rc = main(
        ["--text-glob", f"{logs}/*.log", "--out", str(tmp_path / "out3"), "--run-id", "t1"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # 3 complete lines; the unterminated "partial" is held back (reference
    # semantics: a line ships only once its newline arrives)
    assert summary["rows_staged"] == 3
    assert len(summary["sinks_committed"]) == 4

    # resume: identical rerun stages nothing
    rc = main(
        ["--text-glob", f"{logs}/*.log", "--out", str(tmp_path / "out3"), "--run-id", "t1"]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 0


def test_run_cli_snapshots_and_as_of(spark, tmp_path, capsys):
    out = str(tmp_path / "out4")
    rc = main(["--gen", "2000", "--out", out, "--run-id", "snap1"])
    assert rc == 0
    capsys.readouterr()

    rc = main(["--snapshots", "--out", out])
    assert rc == 0
    snaps = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(snaps) >= 2
    assert [s["seq"] for s in snaps] == list(range(len(snaps)))

    first, last = snaps[0], snaps[-1]
    rc = main(["--read-as-of", first["snapshot_id"], "--run-id", "snap1", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(res["sink_rows"]) == {first["sink"]}

    rc = main(["--read-as-of", last["snapshot_id"], "--run-id", "snap1", "--out", out])
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(res["sink_rows"]) == {s["sink"] for s in snaps}
    assert sum(res["sink_rows"].values()) == 2000


def test_cli_tail_glob_polls(spark, tmp_path, capsys):
    """--tail-glob daemon mode: poll 1 ships the initial complete lines,
    growth between polls ships incrementally under per-poll run_ids, and
    a RESTARTED invocation resumes from the persisted offsets (no
    re-shipping)."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    log = d / "app.log"
    log.write_bytes(b"alpha one\nbeta two\npartial")
    out = str(tmp_path / "out")

    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "tail1",
    ])
    assert rc == 0
    lines = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines[0]["new_lines"] == 2 and lines[0]["run_id"].startswith("tail1-p0-")
    assert lines[-1]["total_lines"] == 2

    # grow the file (completing the partial), then a NEW invocation
    # resumes from _tailstate.json and ships only the growth
    with open(log, "ab") as fh:
        fh.write(b" three\ngamma four\n")
    # REGRESSION (code review): restarting with the SAME --run-id must not
    # reuse p0 (whose sinks are committed) — the poll counter persists, so
    # new growth ships under p1 instead of being skipped and dropped
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "tail1",
    ])
    assert rc == 0
    lines2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert lines2[0]["new_lines"] == 2  # "partial three", "gamma four"
    assert lines2[0]["run_id"].startswith("tail1-p1-")
    assert lines2[0]["sinks_committed"]  # actually shipped, not skipped

    # a third run with no growth ships nothing
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
    ])
    lines3 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0 and lines3[0]["new_lines"] == 0

    # every harvested line landed exactly once across the two runs
    import duckdb

    n, distinct = duckdb.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/run_id=*/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    assert n == 4 and distinct == 4


def test_cli_compact_checkpoint(spark, tmp_path, capsys):
    import json as _json

    from logstash_forwarder_spark.run import main

    out = str(tmp_path / "out")
    assert main(["--gen", "2000", "--out", out, "--run-id", "c1"]) == 0
    capsys.readouterr()
    assert main(["--compact-checkpoint", "--out", out]) == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["compacted_commit_files"] >= 2
    # resume (exactly-once) still works off the compacted index
    assert main(["--gen", "2000", "--out", out, "--run-id", "c1"]) == 0
    rec2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec2["rows_staged"] == 0 and rec2["sinks_committed"] == []


def test_run_cli_forwarder_conf(spark, tmp_path, capsys):
    """The literal switch-over path: a logstash-forwarder.conf (the
    reference's own format — network block, files[].paths/fields,
    comments, $VAR expansion, 'dead time') drives the harvest; each
    group's static fields ride the enrich dim and steer the routes;
    dead-time-idle files are skipped at discovery; exactly-once resume
    holds through the CLI."""
    import json as _json
    import os
    import time

    logs = tmp_path / "clogs"
    logs.mkdir()
    (logs / "web.log").write_bytes(
        b"GET /a one two three four five six seven eight nine ten\n" * 3
    )
    (logs / "sys.log").write_bytes(
        b"kernel says many words " + b"w " * 20 + b"\n"
    )
    (logs / "old.log").write_bytes(b"stale content\n")
    # make old.log idle past the group's dead time
    past = time.time() - 3600
    os.utime(logs / "old.log", (past, past))

    os.environ["LFS_TEST_LOGDIR"] = str(logs)
    conf = tmp_path / "forwarder.conf"
    conf.write_text(
        """
{
  # transport block is accepted and ignored (TLS out of scope)
  "network": { "servers": ["host:5043"], "ssl ca": "/x.pem", "timeout": 15 },
  "files": [
    { "paths": ["$LFS_TEST_LOGDIR/web.log"],
      "fields": { "type": "apache", "env": "prod" } },
    { "paths": ["$LFS_TEST_LOGDIR/sys.log", "$LFS_TEST_LOGDIR/old.log"],
      "fields": { "type": "syslog" },
      "dead time": "5m" }
  ]
}
"""
    )
    out = str(tmp_path / "outc")
    rc = main(["--conf", str(conf), "--out", out, "--run-id", "c1"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # web.log: 3 lines; sys.log: 1 line; old.log: dead-time-skipped
    assert summary["rows_staged"] == 4
    # fields steered routing: apache lines -> sink_apache, the long
    # syslog line (n_tok > 16) -> sink_syslog
    assert "sink_apache" in summary["sinks_committed"]
    assert "sink_syslog" in summary["sinks_committed"]

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT sink, count(*) FROM read_parquet('{out}/run_id=c1/sink=*/*.parquet', "
        "hive_partitioning=true) GROUP BY sink ORDER BY sink"
    ).fetchall()
    assert dict(rows) == {"sink_apache": 3, "sink_syslog": 1}

    # exactly-once resume through the CLI
    rc = main(["--conf", str(conf), "--out", out, "--run-id", "c1"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 0


def test_run_cli_conf_overlapping_globs_ship_once(spark, tmp_path, capsys):
    """A file matched by two overlapping globs — within one files[] group
    AND by a second group with identical fields — ships exactly once
    (ADVICE r5: _harvest_from_conf must dedupe matched paths the way
    discover_tails does)."""
    import json as _json
    import os

    logs = tmp_path / "olaps"
    logs.mkdir()
    (logs / "web.log").write_bytes(
        b"GET /a one two three four five six seven eight nine ten\n" * 3
    )
    os.environ["LFS_TEST_LOGDIR"] = str(logs)
    conf = tmp_path / "overlap.conf"
    conf.write_text(
        """
{
  "files": [
    { "paths": ["$LFS_TEST_LOGDIR/web.log", "$LFS_TEST_LOGDIR/*.log"],
      "fields": { "type": "apache" } },
    { "paths": ["$LFS_TEST_LOGDIR/w*.log"],
      "fields": { "type": "apache" } }
  ]
}
"""
    )
    out = str(tmp_path / "outo")
    rc = main(["--conf", str(conf), "--out", out, "--run-id", "o1"])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 3  # 3 lines, despite 3 glob matches

    import duckdb

    con = duckdb.connect()
    (n, nd) = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/run_id=o1/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchall()[0]
    assert (n, nd) == (3, 3)


def test_forwarder_conf_parsing_errors(tmp_path):
    from logstash_forwarder_spark.config import (
        ConfigError,
        load_forwarder_config,
        parse_duration,
    )

    import pytest

    assert parse_duration("24h") == 86400.0
    assert parse_duration("1h30m") == 5400.0
    assert parse_duration("250ms") == 0.25
    with pytest.raises(ConfigError):
        parse_duration("soon")
    with pytest.raises(ConfigError):
        parse_duration("5 m")

    bad = tmp_path / "bad.conf"
    bad.write_text('{"files": []}')
    with pytest.raises(ConfigError):
        load_forwarder_config(str(bad))
    bad.write_text('{"files": [{"fields": {"a": "b"}}]}')
    with pytest.raises(ConfigError):
        load_forwarder_config(str(bad))
    bad.write_text('{"files": [{"paths": ["/x"], "dead time": "often"}]}')
    with pytest.raises(ConfigError):
        load_forwarder_config(str(bad))


def test_run_cli_conf_tail(spark, tmp_path, capsys):
    """--conf --tail: the reference daemon's full shape — config-driven
    discovery, live tailing of grown bytes only, static fields steering
    the routes, a file APPEARING between polls picked up with its
    group's fields."""
    import json as _json
    import os

    logs = tmp_path / "tlogs"
    logs.mkdir()
    (logs / "web.log").write_bytes(b"GET /a 1 2 3\n")
    os.environ["LFS_TAIL_LOGDIR"] = str(logs)
    conf = tmp_path / "tail.conf"
    conf.write_text(
        '{"files": ['
        '{"paths": ["$LFS_TAIL_LOGDIR/web*.log"], "fields": {"type": "apache"}},'
        '{"paths": ["$LFS_TAIL_LOGDIR/sys*.log"], "fields": {"type": "syslog"}}'
        "]}"
    )
    out = str(tmp_path / "outt")

    rc = main(["--conf", str(conf), "--tail", "--out", out, "--run-id", "d1"])
    assert rc == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["total_lines"] == 1

    # grow web.log AND create a brand-new syslog file between polls
    with open(logs / "web.log", "ab") as fh:
        fh.write(b"GET /b 4 5 6\n")
    (logs / "sys.log").write_bytes(
        b"kern " + b"w " * 20 + b"\n"
    )
    rc = main(["--conf", str(conf), "--tail", "--out", out, "--run-id", "d1"])
    assert rc == 0
    rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # only the grown line + the new file's line — never a re-read
    assert rec["total_lines"] == 2

    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT sink, count(*) FROM read_parquet('{out}/run_id=*/sink=*/*.parquet', "
        "hive_partitioning=true) GROUP BY sink ORDER BY sink"
    ).fetchall()
    # 2 apache lines routed by the config fields; the 21-token syslog
    # line crosses the n_tok>16 route
    assert dict(rows) == {"sink_apache": 2, "sink_syslog": 1}


def test_cli_tail_dedup_store(spark, tmp_path, capsys):
    """--dedup-store: duplicate lines (in-batch and across polls, e.g. a
    rotated copy re-globbed whole) ship exactly once; an all-duplicates
    poll advances offsets without publishing an empty run."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    store = str(tmp_path / "sigstore")
    out = str(tmp_path / "out")
    (d / "a.log").write_bytes(b"dup line\nunique a\n")

    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "dd", "--dedup-store", store,
    ])
    assert rc == 0
    p1 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert p1[0]["new_lines"] == 2 and p1[0]["dup_lines"] == 0
    assert p1[0]["sinks_committed"]

    # a "rotated copy" appears: one already-shipped line + a new line
    # duplicated within the batch -> only ONE new row ships
    (d / "b.log").write_bytes(b"dup line\nunique b\nunique b\n")
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "dd", "--dedup-store", store,
    ])
    assert rc == 0
    p2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert p2[0]["new_lines"] == 3 and p2[0]["dup_lines"] == 2
    assert p2[0]["rows_staged"] == 1

    # an all-duplicates file: offsets advance, nothing publishes
    (d / "c.log").write_bytes(b"dup line\nunique a\n")
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "dd", "--dedup-store", store,
    ])
    assert rc == 0
    p3 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert p3[0]["new_lines"] == 2 and p3[0]["dup_lines"] == 2
    assert "run_id" not in p3[0]  # no publish happened

    # and the skipped content does NOT come back on the next poll
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "dd", "--dedup-store", store,
    ])
    p4 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0 and p4[0]["new_lines"] == 0

    # exactly 3 distinct line-contents published across all polls
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet("
        f"'{out}/run_id=*/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchone()[0]
    assert n == 3


def test_cli_tail_from_end(spark, tmp_path, capsys):
    """--tail-from-end (the reference's -tail flag): the first poll over a
    pre-existing log ships nothing but records the attach point; growth
    after the attach ships from there on the next poll."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    out = str(tmp_path / "out")
    (d / "a.log").write_bytes(b"history one\nhistory two\n")

    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "te", "--tail-from-end",
    ])
    assert rc == 0
    p1 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert p1[0]["new_lines"] == 0

    with open(d / "a.log", "ab") as f:
        f.write(b"fresh line\n")
    rc = main([
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "te", "--tail-from-end",
    ])
    assert rc == 0
    p2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert p2[0]["new_lines"] == 1 and p2[0]["rows_staged"] == 1

    import duckdb

    rows = duckdb.sql(
        f"SELECT count(*) FROM read_parquet("
        f"'{out}/run_id=*/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchone()[0]
    assert rows == 1  # history never shipped


def test_cli_tail_dedup_store_colocated(spark, tmp_path, capsys):
    """--dedup-store-join colocated (the backfill regime) dedups the same
    lines through the BucketedSignatureStore path, including resuming a
    store started by an earlier invocation."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    store = str(tmp_path / "sigstore_co")
    out = str(tmp_path / "out")
    (d / "a.log").write_bytes(b"dup line\nunique a\n")
    args = [
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "dd", "--dedup-store", store,
        "--dedup-store-join", "colocated", "--dedup-buckets", "4",
    ]
    try:
        rc = main(args)
        assert rc == 0
        p1 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert p1[0]["new_lines"] == 2 and p1[0]["dup_lines"] == 0

        (d / "b.log").write_bytes(b"dup line\nunique b\nunique b\n")
        rc = main(args)
        assert rc == 0
        p2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert p2[0]["new_lines"] == 3 and p2[0]["dup_lines"] == 2
        assert p2[0]["rows_staged"] == 1

        import duckdb

        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet("
            f"'{out}/run_id=*/sink=*/*.parquet', hive_partitioning=true)"
        ).fetchone()[0]
        assert n == 3
    finally:
        import hashlib

        base = "sigstore_" + hashlib.md5(store.encode()).hexdigest()[:10]
        for t in (f"{base}_fps", f"{base}_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_cli_compact_sinks(spark, tmp_path, capsys):
    """--compact-sinks: a committed run rewritten to fewer files with
    identical reader-visible contents."""
    import os

    from logstash_forwarder_spark.pipeline import read_sink
    from logstash_forwarder_spark.plans.manifest import read_manifest

    out = str(tmp_path / "outc")
    rc = main(["--gen", "2000", "--out", out, "--run-id", "k1"])
    assert rc == 0
    capsys.readouterr()

    run_dir = os.path.join(out, "run_id=k1")
    before = {
        s: read_sink(spark, out, "k1", s).count()
        for s in ("sink_default", "sink_syslog")
    }
    rc = main(["--compact-sinks", "--out", out, "--run-id", "k1"])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["run_id"] == "k1"
    rewritten = [r for r in report["sinks"] if r["rewritten"]]
    assert rewritten and all(
        r["files_after"] < r["files_before"] for r in rewritten
    )
    for s, n in before.items():
        assert read_sink(spark, out, "k1", s).count() == n
        m = read_manifest(run_dir, s)
        assert len(m["files"]) >= 1

    # requires --run-id
    import pytest

    with pytest.raises(SystemExit):
        main(["--compact-sinks", "--out", out])


def test_cli_export_shards(spark, tmp_path, capsys):
    """--export-shards: every committed run -> deterministic training
    shards; crashed-attempt orphans excluded."""
    import os

    out = str(tmp_path / "oute")
    assert main(["--gen", "600", "--out", out, "--run-id", "e1"]) == 0
    assert main(["--gen", "400", "--out", out, "--run-id", "e2"]) == 0
    capsys.readouterr()

    shard_dir = str(tmp_path / "shards")
    rc = main(["--export-shards", shard_dir, "--shards", "8", "--out", out])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows"] == 1000 and rep["n_shards"] == 8
    back = spark.read.option("basePath", shard_dir).parquet(shard_dir)
    assert back.count() == 1000
    assert back.select("shard").distinct().count() == 8
    # run provenance survives into the shards
    from pyspark.sql import functions as F

    per_run = {r.run_id: r.n for r in
               back.groupBy("run_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_run == {"e1": 600, "e2": 400}

    # --curriculum: within-shard files are sorted by the column
    import glob as _glob

    import pyarrow.parquet as pq

    cdir = str(tmp_path / "cshards")
    rc = main([
        "--export-shards", cdir, "--shards", "4", "--out", out,
        "--curriculum", "n_tok",
    ])
    assert rc == 0
    files = _glob.glob(f"{cdir}/shard=*/*.parquet")
    assert files
    for f in files:
        col = pq.read_table(f, columns=["n_tok"]).column("n_tok").to_pylist()
        assert col == sorted(col), f


def test_cli_tail_retain_polls(spark, tmp_path, capsys):
    """--tail-retain-polls K: retention at daemon cadence — after each
    poll commit only the K newest poll runs survive (snapshots AND
    published data), while offsets keep resuming correctly (an expired
    poll's lines are NOT re-shipped: the tail state, not the registrar,
    owns read positions)."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    log = d / "app.log"
    log.write_bytes(b"poll0 a\npoll0 b\n")
    out = str(tmp_path / "out")
    argv = [
        "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
        "--run-id", "ret", "--tail-retain-polls", "2",
    ]
    assert main(argv) == 0
    capsys.readouterr()
    with open(log, "ab") as fh:
        fh.write(b"poll1 c\n")
    assert main(argv) == 0
    rec1 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert "expired_runs" not in rec1[0]  # 2 runs live, K=2: nothing due
    with open(log, "ab") as fh:
        fh.write(b"poll2 d\n")
    assert main(argv) == 0
    rec2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    # the oldest poll run was expired at commit time
    assert len(rec2[0]["expired_runs"]) == 1
    assert rec2[0]["expired_runs"][0].startswith("ret-p0-")
    run_dirs = sorted(
        p for p in __import__("os").listdir(out) if p.startswith("run_id=")
    )
    assert len(run_dirs) == 2
    assert not any("-p0-" in p for p in run_dirs)
    # offsets were NOT rewound: no re-ship of expired lines
    import duckdb

    n, distinct = duckdb.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/run_id=*/sink=*/*.parquet', hive_partitioning=true)"
    ).fetchone()
    assert (n, distinct) == (2, 2)  # polls 1 and 2 only, exactly once
