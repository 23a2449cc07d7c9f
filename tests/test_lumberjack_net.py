"""Lumberjack v1 over a REAL socket — the reference's own e2e shape
(spec/lumberjack_spec.rb:66-91: follow a file, emit lines as events over
the wire, assert count + per-event line + annotated-field equality),
driven through harvest → publish_lumberjack → LumberjackServer.

Ack contract per PROTOCOL.md:75-87 (bulk ack of the highest sequence);
writer loop per publisher1.go:33-127 (window + zlib envelope, block for
ack). TLS variant generates a self-signed CN=localhost cert with the
same openssl incantation the rspec uses."""

from __future__ import annotations

import shutil
import ssl
import subprocess

import pytest

from pyspark.sql import functions as F

from logstash_forwarder_spark.operators.lumberjack import (
    encode_data_frame,
    encode_payload,
)
from logstash_forwarder_spark.operators.lumberjack_net import (
    LumberjackServer,
    publish_lumberjack,
    read_frames,
)
from logstash_forwarder_spark.sources.textlog import harvest_text_files

# the rspec's exact lines, unicode emoji included (lumberjack_spec.rb:68)
LINES = ["Hello world", "Fancy Pants", "Some Unicode Emoji: 👍 💗 "]
RANDOM_FIELD, RANDOM_VALUE = "tag_4021", "value_7583"


@pytest.fixture
def server():
    s = LumberjackServer()
    yield s
    s.close()


def _events_df(spark, tmp_path):
    """Follow-a-file front half: write lines, harvest, annotate the
    config's static field (the rspec's random_field/random_value)."""
    log = tmp_path / "input.log"
    log.write_text("".join(l + "\n" for l in LINES), encoding="utf-8")
    return (
        harvest_text_files(spark, str(log))
        .filter("is_complete")
        .select(
            "file",
            F.lit("testhost").alias("host"),
            F.col("byte_offset").cast("string").alias("offset"),
            "line",
            F.lit(RANDOM_VALUE).alias(RANDOM_FIELD),
        )
    )


def test_follow_file_and_emit_lines_as_events(spark, tmp_path, server):
    """lumberjack_spec.rb:66-91 over plain TCP."""
    df = _events_df(spark, tmp_path).coalesce(1)
    stats = publish_lumberjack(
        df,
        server.host,
        server.port,
        pair_cols=["file", "host", "offset", "line", RANDOM_FIELD],
        order_col="offset",
        frames_per_payload=2,  # forces >1 flush bundle + >1 ack
    )
    assert sum(s["n_events"] for s in stats) == len(LINES)
    # every partition's final sequence was acked before the close
    for s in stats:
        assert s["acked"] == s["n_events"]
    events = sorted(server.events, key=lambda e: int(e["offset"]))
    assert len(events) == len(LINES)
    for line, event in zip(LINES, events):
        assert event["line"] == line
        assert event[RANDOM_FIELD] == RANDOM_VALUE
        assert event["host"] == "testhost"


def test_integers_and_nulls_cross_both_paths_alike(spark, server):
    """One batch holding a null: a bigint goes out as its digits and a
    null value as no pair at all, to a spool (events_to_frames, read
    back by frames_to_events as NULL) and to a socket (publish_lumberjack
    to LumberjackServer) alike."""
    from logstash_forwarder_spark.operators.lumberjack import (
        events_to_frames,
        frames_to_events,
    )

    df = spark.createDataFrame(
        [(1, 5, "x"), (2, -3, ""), (3, 2**40, "é"), (4, None, None)],
        "i long, n long, s string",
    ).coalesce(1)
    want = {
        1: {"n": "5", "s": "x"},
        2: {"n": "-3", "s": ""},
        3: {"n": "1099511627776", "s": "é"},
        4: {},
    }
    frames = events_to_frames(df, ["n", "s"], order_col="i")
    spool = {
        r.sequence: {k: v for k, v in (("n", r.n), ("s", r.s)) if v is not None}
        for r in frames_to_events(frames, ["n", "s"]).collect()
    }
    assert spool == want
    stats = publish_lumberjack(
        df, server.host, server.port, pair_cols=["n", "s"], order_col="i"
    )
    assert stats[0]["acked"] == 4
    assert {e["_connection"] for e in server.events} == {1}
    wire = {
        e["_sequence"]: {k: v for k, v in e.items() if not k.startswith("_")}
        for e in server.events
    }
    assert wire == want


def test_one_connection_per_partition_sequences_restart(
    spark, tmp_path, server
):
    df = _events_df(spark, tmp_path).repartition(3)
    stats = publish_lumberjack(
        df,
        server.host,
        server.port,
        pair_cols=["line"],
        order_col="offset",
    )
    assert sum(s["n_events"] for s in stats) == len(LINES)
    assert {e["line"] for e in server.events} == set(LINES)
    # sequences are connection-scoped: every connection numbers from 1
    by_conn: dict[int, list[int]] = {}
    for e in server.events:
        by_conn.setdefault(e["_connection"], []).append(e["_sequence"])
    for seqs in by_conn.values():
        assert sorted(seqs) == list(range(1, len(seqs) + 1))


def test_ack_gates_every_bundle(spark, tmp_path, server):
    """With frames_per_payload=1 every event is its own window+envelope
    and the writer blocks for one ack per event — the reference's
    smallest-window degenerate case."""
    df = _events_df(spark, tmp_path).coalesce(1)
    stats = publish_lumberjack(
        df,
        server.host,
        server.port,
        pair_cols=["line"],
        order_col="offset",
        frames_per_payload=1,
    )
    assert stats[0]["acked"] == len(LINES)
    assert [e["line"] for e in server.events] == LINES  # wire order


def test_tls_roundtrip(spark, tmp_path):
    """The rspec's TLS shape: self-signed CN=localhost cert via the same
    openssl incantation (lumberjack_spec.rb before-block), server wraps
    with it, client trusts exactly that cert."""
    if shutil.which("openssl") is None:
        pytest.skip("openssl CLI not available")
    key, crt = str(tmp_path / "s.key"), str(tmp_path / "s.crt")
    subprocess.run(
        [
            "openssl", "req", "-x509", "-batch", "-nodes",
            "-newkey", "rsa:2048", "-keyout", key, "-out", crt,
            "-subj", "/CN=localhost",
        ],
        check=True,
        capture_output=True,
    )
    srv_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    srv_ctx.load_cert_chain(crt, key)
    server = LumberjackServer(host="127.0.0.1", ssl_context=srv_ctx)
    try:
        port = server.port

        def client_ctx(crt=crt):
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.load_verify_locations(crt)
            ctx.check_hostname = False  # cert CN=localhost, we dial the IP
            return ctx

        df = _events_df(spark, tmp_path).coalesce(1)
        stats = publish_lumberjack(
            df,
            "127.0.0.1",
            port,
            pair_cols=["line", RANDOM_FIELD],
            order_col="offset",
            ssl_context_factory=client_ctx,
        )
        assert sum(s["n_events"] for s in stats) == len(LINES)
        assert {e["line"] for e in server.events} == set(LINES)
        assert all(e[RANDOM_FIELD] == RANDOM_VALUE for e in server.events)
    finally:
        server.close()


def test_read_frames_matches_batch_decoder(tmp_path):
    """The incremental socket reader and the batch decode_stream agree
    on the same payload bytes (golden interop within the codec)."""
    import io

    frames = [
        encode_data_frame(i + 1, [("k", f"v{i}"), ("line", f"l{i}")])
        for i in range(5)
    ]
    payload = encode_payload(frames)
    got = list(read_frames(io.BytesIO(payload)))
    assert got[0] == ("W", 5)
    assert [v for t, v in got if t == "D"] == [
        (i + 1, {"k": f"v{i}", "line": f"l{i}"}) for i in range(5)
    ]
    # truncated mid-frame raises, EOF between frames is clean
    with pytest.raises(ValueError, match="mid-frame|truncated"):
        list(read_frames(io.BytesIO(payload[: len(payload) - 3])))
    assert list(read_frames(io.BytesIO(b""))) == []


def test_cli_ship_lumberjack(spark, tmp_path, capsys):
    """--ship-lumberjack HOST:PORT — the reference's whole job in one
    flag: harvest a glob, ship every complete line to a live receiver,
    ack-gated."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("one 1\ntwo 2\npartial", encoding="utf-8")
    (d / "b.log").write_text("three 3\n", encoding="utf-8")
    server = LumberjackServer()
    try:
        rc = main([
            "--text-glob", f"{d}/*.log",
            "--ship-lumberjack", f"{server.host}:{server.port}",
            "--out", str(tmp_path / "unused"),
        ])
        assert rc == 0
        rec = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        # the held-back partial line must NOT ship (reference semantics)
        assert rec["shipped"] == 3 and rec["acked"] >= 0
        got = {(e["file"].rsplit("/", 1)[-1], e["offset"], e["line"])
               for e in server.events}
        assert got == {
            ("a.log", "0", "one 1"),
            ("a.log", "6", "two 2"),
            ("b.log", "0", "three 3"),
        }
    finally:
        server.close()


def test_server_survives_slow_writer():
    """Accepted sockets must be BLOCKING: CPython makes accept()ed
    connections inherit the listener's 0.2 s accept-poll timeout, which
    would kill a connection whose writer pauses between frames."""
    import socket as s
    import time

    server = LumberjackServer()
    try:
        conn = s.create_connection((server.host, server.port))
        conn.sendall(encode_payload([encode_data_frame(1, [("line", "a")])]))
        time.sleep(0.5)  # longer than the accept-poll timeout
        conn.sendall(encode_payload([encode_data_frame(2, [("line", "b")])]))
        deadline = time.monotonic() + 5
        while time.monotonic() < deadline and len(server.events) < 2:
            time.sleep(0.05)
        assert [e["line"] for e in server.events] == ["a", "b"]
    finally:
        conn.close()
        server.close()


def test_cli_tail_ship_lumberjack(spark, tmp_path, capsys):
    """The reference's LITERAL daemon over a real socket: --tail-glob +
    --ship-lumberjack follows a file, ships only grown complete lines
    per poll with blocking acks, persists offsets AFTER the final ack,
    and a restarted invocation ships only new growth."""
    import json as _json

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    log = d / "app.log"
    log.write_bytes(b"one 1\ntwo 2\nsix 66\npartial")
    out = str(tmp_path / "out")
    server = LumberjackServer()
    try:
        argv = [
            "--tail-glob", f"{d}/*.log", "--polls", "1", "--out", out,
            "--ship-lumberjack", f"{server.host}:{server.port}",
        ]
        assert main(argv) == 0
        rec = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert rec[0]["shipped"] == 3 and rec[0]["acked"] == rec[0]["shipped"]
        assert rec[0]["connections"] == 1  # one file's lines, in order
        # grow the file; a NEW invocation resumes from offsets and ships
        # ONLY the growth (the completed partial + one new line)
        with open(log, "ab") as fh:
            fh.write(b" three\nfour 4\n")
        assert main(argv) == 0
        rec2 = [_json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
        assert rec2[0]["shipped"] == 2
        lines = [e["line"] for e in server.events]
        assert lines == ["one 1", "two 2", "six 66", "partial three", "four 4"]
        # frame identity is the replay-stable (file, offset) pair, and
        # frames arrive in byte order (6 before 12)
        offs = [int(e["offset"]) for e in server.events]
        assert offs == [0, 6, 12, 19, 33]
    finally:
        server.close()


def test_cli_tail_ship_rejects_dedup_store(spark, tmp_path):
    import pytest as _pytest

    from logstash_forwarder_spark.run import main

    d = tmp_path / "live"
    d.mkdir()
    (d / "a.log").write_text("x\n")
    with _pytest.raises(SystemExit, match="dedup-store"):
        main([
            "--tail-glob", f"{d}/*.log", "--polls", "1",
            "--out", str(tmp_path / "out"),
            "--ship-lumberjack", "127.0.0.1:1",
            "--dedup-store", str(tmp_path / "store"),
        ])
