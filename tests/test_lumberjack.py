"""Lumberjack v1 codec (operators/lumberjack.py): byte-golden frames per
PROTOCOL.md:46-118, writer-payload roundtrip, bulk-ack semantics,
malformed-stream errors, and the distributed Spark encode/decode pair."""

from __future__ import annotations

import struct
import zlib

import pytest

from logstash_forwarder_spark.operators.lumberjack import (
    ack_for,
    decode_stream,
    encode_ack_frame,
    encode_data_frame,
    encode_payload,
    encode_window_frame,
    events_to_frames,
    frames_to_events,
)


def test_data_frame_bytes_golden():
    """Hand-assembled bytes per PROTOCOL.md:60-74 (and writeKV,
    publisher1.go:243-248): '1D', u32 seq, u32 count, len-prefixed k/v."""
    got = encode_data_frame(7, [("file", "/var/log/a.log"), ("line", "hi")])
    want = (
        b"1D"
        + struct.pack(">II", 7, 2)
        + struct.pack(">I", 4) + b"file"
        + struct.pack(">I", 14) + b"/var/log/a.log"
        + struct.pack(">I", 4) + b"line"
        + struct.pack(">I", 2) + b"hi"
    )
    assert got == want


def test_window_ack_golden_and_payload_shape():
    assert encode_window_frame(1024) == b"1W" + struct.pack(">I", 1024)
    assert encode_ack_frame(99) == b"1A" + struct.pack(">I", 99)
    frames = [encode_data_frame(i, [("k", f"v{i}")]) for i in (1, 2, 3)]
    payload = encode_payload(frames)
    # 1W sized to the bundle, then 1C + length + zlib of the raw frames
    assert payload[:6] == b"1W" + struct.pack(">I", 3)
    assert payload[6:8] == b"1C"
    (clen,) = struct.unpack_from(">I", payload, 8)
    assert len(payload) == 12 + clen
    assert zlib.decompress(payload[12:]) == b"".join(frames)


def test_decode_roundtrip_and_bulk_ack():
    frames = [
        encode_data_frame(i, [("file", "f"), ("offset", str(i * 10))])
        for i in (1, 2, 3)
    ]
    seen = list(decode_stream(encode_payload(frames)))
    assert seen[0] == ("W", 3)
    assert [(t, v[0]) for t, v in seen[1:]] == [("D", 1), ("D", 2), ("D", 3)]
    assert seen[2][1][1] == {"file": "f", "offset": "20"}
    # bulk ack: one 1A for the top sequence
    assert ack_for(iter(seen)) == encode_ack_frame(3)
    assert ack_for(iter([("W", 3)])) is None


def test_unicode_values_survive():
    f = encode_data_frame(1, [("line", "héllo wörld — ☃")])
    [(t, (seq, pairs))] = list(decode_stream(f))
    assert pairs["line"] == "héllo wörld — ☃"


_FRAME = encode_data_frame(1, [("line", "hello world"), ("empty", "")])
_PAYLOAD = encode_payload([_FRAME, encode_data_frame(2, [("file", "/a.log")])])
# every strict prefix that ends inside a frame; a payload cut right after
# its 6-byte window frame is a complete frame stream, so it is not one
_CUTS = [("frame", n) for n in range(1, len(_FRAME))] + [
    ("payload", n) for n in range(1, len(_PAYLOAD)) if n != 6
]


@pytest.mark.parametrize(
    "which, cut", _CUTS, ids=[f"{w}-{n}" for w, n in _CUTS]
)
def test_malformed_streams_raise(which, cut):
    """A bad version byte, an unknown frame type and every truncation
    raise ValueError from both entry points — the buffer decoder and the
    socket reader — which share one parse loop."""
    import io

    from logstash_forwarder_spark.operators.lumberjack_net import read_frames

    buf = {"frame": _FRAME, "payload": _PAYLOAD}[which][:cut]
    for decode in (decode_stream, lambda b: read_frames(io.BytesIO(b))):
        with pytest.raises(ValueError, match="version"):
            list(decode(b"2D" + struct.pack(">II", 1, 0)))
        with pytest.raises(ValueError, match="frame type"):
            list(decode(b"1X"))
        with pytest.raises(ValueError, match="truncated|mid-frame|ends"):
            list(decode(buf))


def test_spark_roundtrip_multi_partition(spark):
    """Distributed encode/decode: rows split over 4 partitions encode to
    per-partition payload blobs (sequences 1..n per partition — the
    connection analog), and decode recovers every row byte-exactly."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 5)).alias("file"),
        F.lit("h").alias("host"),
        F.col("id").cast("string").alias("offset"),
        F.concat(F.lit("line body "), F.col("id")).alias("line"),
    ).repartition(4, "doc_id")
    frames = events_to_frames(
        df, ["file", "host", "offset", "line"],
        order_col="doc_id", frames_per_payload=64,
    )
    dec = frames_to_events(frames, ["file", "offset", "line"]).collect()
    assert len(dec) == 1000
    got = {int(r.offset): (r.file, r.line) for r in dec}
    assert got == {
        i: (f"src{i % 5}", f"line body {i}") for i in range(1000)
    }
    # per-partition sequences: 4 streams each starting at 1
    seqs = sorted(r.sequence for r in dec)
    assert seqs[0] == 1 and seqs.count(1) == 4


def test_events_to_frames_bytes_match_hand_built_bundles(spark):
    """Rows whose pair values are non-null strings encode to exactly the
    bundles encode_payload([encode_data_frame(...), ...]) builds by hand,
    bundle by bundle: 1..n in order_col order, frames_per_payload frames
    per bundle, a short last bundle."""
    rows = [
        (i, f"/var/log/{i % 2}.log", str(i * 7), f"line é {i}") for i in range(7)
    ]
    df = spark.createDataFrame(
        rows, "i long, file string, offset string, line string"
    ).coalesce(1)
    got = [
        (r.first_seq, r.n_frames, bytes(r.payload))
        for r in events_to_frames(
            df, ["file", "offset", "line"], order_col="i", frames_per_payload=3
        ).collect()
    ]
    frames = [
        encode_data_frame(i + 1, [("file", f), ("offset", o), ("line", ln)])
        for i, f, o, ln in rows
    ]
    want = [
        (first, len(bundle), encode_payload(bundle))
        for first, bundle in ((1, frames[:3]), (4, frames[3:6]), (7, frames[6:]))
    ]
    assert got == want


def test_harvest_lumberjack_spool_files(spark, tmp_path):
    """Spool ingest: payload streams at rest decode to one row per data
    frame with the writer's standard keys; event identity comes from the
    FRAME's file/offset pairs, not the spool path."""
    from logstash_forwarder_spark.operators.lumberjack import (
        harvest_lumberjack_files,
        lumberjack_to_sequences,
    )

    spool = tmp_path / "spool"
    spool.mkdir()
    # two spool files = two shipped connections, multi-payload in one file
    for fno in range(2):
        frames1 = [
            encode_data_frame(i + 1, [
                ("file", f"/var/log/app{fno}.log"), ("host", "h1"),
                ("offset", str(100 * fno + i)), ("line", f"msg {fno} {i} alpha"),
            ])
            for i in range(3)
        ]
        frames2 = [
            encode_data_frame(4, [
                ("file", f"/var/log/app{fno}.log"), ("host", "h1"),
                ("offset", str(100 * fno + 3)), ("line", f"msg {fno} 3 beta"),
                ("type", "apache"),  # extra pair is ignored by harvest
            ])
        ]
        (spool / f"conn{fno}.lj").write_bytes(
            encode_payload(frames1) + encode_payload(frames2)
        )

    dec = harvest_lumberjack_files(spark, f"{spool}/*.lj")
    rows = dec.collect()
    assert len(rows) == 8
    assert {r.host for r in rows} == {"h1"}
    assert {(r.file, r.offset) for r in rows} == {
        (f"/var/log/app{f}.log", 100 * f + i) for f in range(2) for i in range(4)
    }

    seqs = lumberjack_to_sequences(dec)
    got = {r.doc_id: (r.source, r.n_tok) for r in seqs.collect()}
    assert len(got) == 8
    assert got["/var/log/app0.log:0"] == ("app0", 4)  # "msg 0 0 alpha"
    assert all(src in ("app0", "app1") for src, _ in got.values())

    # the offset rule: Python int() of the pair's value, NULL when that
    # raises or the frame has no offset pair
    odd = tmp_path / "odd"
    odd.mkdir()
    offsets = ["12", " 12", "+7", "1_000", "x", ""]
    frames = [
        encode_data_frame(i + 1, [("file", "/f"), ("offset", o), ("line", "l")])
        for i, o in enumerate(offsets)
    ]
    frames.append(encode_data_frame(7, [("file", "/f"), ("line", "no offset")]))
    (odd / "c.lj").write_bytes(encode_payload(frames))
    rows = harvest_lumberjack_files(spark, f"{odd}/*.lj").collect()
    assert {r.sequence: r.offset for r in rows} == {
        1: 12, 2: 12, 3: 7, 4: 1000, 5: None, 6: None, 7: None,
    }
    assert all(r.spool_file.endswith("/odd/c.lj") for r in rows)


def test_cli_lumberjack_ingest(spark, tmp_path, capsys):
    """--lumberjack-glob: spool files flow through the full pipeline with
    exactly-once resume, carrying the frames' own event identities."""
    import json as _json

    from logstash_forwarder_spark.run import main

    spool = tmp_path / "spool"
    spool.mkdir()
    frames = [
        encode_data_frame(i + 1, [
            ("file", "/var/log/web.log"), ("host", "edge1"),
            ("offset", str(i)),
            ("line", f"GET /p{i} one two three four five six seven"),
        ])
        for i in range(10)
    ]
    (spool / "conn.lj").write_bytes(encode_payload(frames))

    out = str(tmp_path / "out")
    rc = main([
        "--lumberjack-glob", f"{spool}/*.lj", "--out", out, "--run-id", "lj1",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 10

    import duckdb

    ids = duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out}/run_id=lj1/sink=*/*.parquet', "
        "hive_partitioning=true) ORDER BY doc_id"
    ).fetchall()
    assert {i[0] for i in ids} == {f"/var/log/web.log:{i}" for i in range(10)}

    # exactly-once: identical re-run stages nothing
    rc = main([
        "--lumberjack-glob", f"{spool}/*.lj", "--out", out, "--run-id", "lj1",
    ])
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_staged"] == 0


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.text(min_size=0, max_size=8),
                st.text(min_size=0, max_size=16),
            ),
            min_size=0,
            max_size=4,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_codec_roundtrip_property(frames_pairs):
    """Wire-code fuzz: ANY list of key/value pair lists (arbitrary
    unicode, empty keys/values, empty frames) survives
    encode_payload → decode_stream and the incremental socket reader
    identically, with sequences and the window count intact."""
    import io

    from logstash_forwarder_spark.operators.lumberjack import (
        decode_stream,
        encode_data_frame,
        encode_payload,
    )
    from logstash_forwarder_spark.operators.lumberjack_net import read_frames

    frames = [
        encode_data_frame(i + 1, pairs)
        for i, pairs in enumerate(frames_pairs)
    ]
    payload = encode_payload(frames)
    for decoded in (
        list(decode_stream(payload)),
        list(read_frames(io.BytesIO(payload))),
    ):
        assert decoded[0] == ("W", len(frames))
        datas = [v for t, v in decoded if t == "D"]
        assert len(datas) == len(frames_pairs)
        for i, (seq, got_pairs) in enumerate(datas):
            assert seq == i + 1
            # dict semantics: later duplicate keys win, like the reader
            want = {}
            for k, v in frames_pairs[i]:
                want[k] = v
            assert got_pairs == want
