"""Lumberjack v1 wire codec — the reference's literal transport framing
(reference: PROTOCOL.md:46-118; writer: publisher1.go:33-127 Publishv1,
publisher1.go:224-248 writeDataFrame/writeKV), reborn as a batch
encode/decode pair so existing lumberjack payloads interoperate with the
pipeline in both directions:

* ``encode``: ``1W`` window frame (window = events per payload, exactly
  the writer's ``len(events)``) followed by ``1C`` + u32 length + zlib
  (level 3, the writer's level) of concatenated ``1D`` data frames; each
  data frame is u32 sequence + u32 pair count + length-prefixed
  key/value byte strings, all big-endian.
* ``decode``: the reader side per PROTOCOL.md — streams frames, opens
  ``1C`` envelopes (whose payload MUST itself be a valid frame stream),
  tracks the max sequence for bulk acks (``1A``).

TLS/TCP session management stays out of scope (SURVEY O-R6: cluster
transport); this is the FRAME layer, which is what makes stored payloads
portable. Sequence numbers are connection-scoped in the reference; here
they are PARTITION-scoped (one partition == one connection analog),
numbered 1..n in the kernel's row order.

Spark shape: encoding/decoding is row-local byte work — mapInPandas
kernels, one payload blob per pandas batch on the way out (the writer's
"bundle of events per flush"), zero shuffles in either direction. At
100 TB the frame blobs ride the same partitioning as their source rows.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.textlog import SOURCE_STEM_RE, hashed_tokens

VERSION = b"1"
COMPRESS_LEVEL = 3  # publisher1.go:46 zlib.NewWriterLevel(&buffer, 3)


# ---------------------------------------------------------------------------
# pure-bytes codec
# ---------------------------------------------------------------------------


def _kv(out: bytearray, key: bytes, value: bytes) -> None:
    out += struct.pack(">I", len(key)) + key + struct.pack(">I", len(value)) + value


def encode_data_frame(sequence: int, pairs: list[tuple[str, str]]) -> bytes:
    """One ``1D`` frame: u32 sequence, u32 pair count, length-prefixed
    UTF-8 key/value pairs (writeDataFrame/writeKV)."""
    out = bytearray(b"1D")
    out += struct.pack(">II", sequence & 0xFFFFFFFF, len(pairs))
    for k, v in pairs:
        _kv(out, k.encode("utf-8"), v.encode("utf-8"))
    return bytes(out)


def encode_window_frame(n_frames: int) -> bytes:
    return b"1W" + struct.pack(">I", n_frames)


def encode_ack_frame(sequence: int) -> bytes:
    return b"1A" + struct.pack(">I", sequence & 0xFFFFFFFF)


def encode_payload(frames: list[bytes]) -> bytes:
    """The writer's per-flush payload: window frame sized to the bundle,
    then ONE compressed envelope holding every data frame
    (publisher1.go:44-99: 1W len(events), 1C len(zlib), payload)."""
    raw = b"".join(frames)
    comp = zlib.compress(raw, COMPRESS_LEVEL)
    return encode_window_frame(len(frames)) + b"1C" + struct.pack(">I", len(comp)) + comp


def parse_frames(read) -> Iterator[tuple[str, object]]:
    """The one frame parser: yield ('W', n) / ('A', seq) / ('D', (seq,
    pairs_dict)) in stream order, transparently opening ``1C`` envelopes
    (PROTOCOL.md: the uncompressed payload MUST be a valid frame stream by
    itself). ``read(n)`` is an exact read: it returns n bytes, or b"" when
    the stream ended before the first of them, and raises ValueError when
    it ended inside them. The end of the stream is clean only between
    frames; anywhere else it is a truncated frame, a ValueError."""

    def exact(n: int) -> bytes:
        got = read(n)
        if len(got) != n:
            raise ValueError("lumberjack: truncated frame")
        return got

    while hdr := read(2):
        version, ftype = hdr[:1], hdr[1:2]
        if version != VERSION:
            raise ValueError(f"lumberjack: unknown version byte {version!r}")
        if ftype == b"W" or ftype == b"A":
            (val,) = struct.unpack(">I", exact(4))
            yield ("W" if ftype == b"W" else "A", val)
        elif ftype == b"C":
            (clen,) = struct.unpack(">I", exact(4))
            yield from decode_stream(zlib.decompress(exact(clen)))
        elif ftype == b"D":
            seq, n_pairs = struct.unpack(">II", exact(8))
            pairs = {}
            for _ in range(n_pairs):
                (klen,) = struct.unpack(">I", exact(4))
                k = exact(klen).decode("utf-8")
                (vlen,) = struct.unpack(">I", exact(4))
                pairs[k] = exact(vlen).decode("utf-8")
            yield ("D", (seq, pairs))
        else:
            raise ValueError(f"lumberjack: unknown frame type {ftype!r}")


def decode_stream(buf: bytes) -> Iterator[tuple[str, object]]:
    """:func:`parse_frames` over a buffer, through a bounds-checked slice.
    Raises ValueError on malformed framing — a truncated frame is a
    protocol error, not EOF."""
    pos = 0

    def read(n: int) -> bytes:
        nonlocal pos
        if pos + n > len(buf):
            if pos == len(buf):
                return b""
            raise ValueError(
                f"lumberjack: stream ends mid-frame ({len(buf) - pos}/{n} bytes)"
            )
        pos += n
        return buf[pos - n : pos]

    return parse_frames(read)


def ack_for(frames: Iterator[tuple[str, object]]) -> bytes | None:
    """Bulk ack per PROTOCOL.md: one ``1A`` for the highest sequence
    seen (acknowledges everything at or below it). None if no data."""
    top = None
    for t, v in frames:
        if t == "D":
            seq, _ = v  # type: ignore[misc]
            top = seq if top is None else max(top, seq)
    return None if top is None else encode_ack_frame(top)


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

FRAMES_SCHEMA = "first_seq long, n_frames long, payload binary"


def events_to_frames(
    df: DataFrame,
    pair_cols: list[str],
    order_col: str,
    frames_per_payload: int = 1024,
) -> DataFrame:
    """Encode rows into lumberjack payload blobs, one blob per
    ``frames_per_payload`` rows (the writer's flush bundle). Every
    string column in ``pair_cols`` becomes a k/v pair, mirroring the
    writer's file/host/offset/line map (values rendered as strings —
    the protocol only carries strings). Sequences number 1..n within
    the partition in ``order_col`` order (connection-scoped analog).
    Row-local: no shuffle; call ``coalesce(1)`` first if a single
    wire-order stream is required."""
    cols = [order_col] + [c for c in pair_cols if c != order_col]
    sel = df.select(*dict.fromkeys(cols)).sortWithinPartitions(order_col)

    def enc(batches: Iterator) -> Iterator:
        import pandas as pd

        seq = 0
        pending: list[bytes] = []
        first = 1
        for pdf in batches:
            vals = {c: pdf[c].astype(str).tolist() for c in pair_cols}
            for j in range(len(pdf)):
                seq += 1
                pending.append(
                    encode_data_frame(seq, [(c, vals[c][j]) for c in pair_cols])
                )
                if len(pending) >= frames_per_payload:
                    yield pd.DataFrame(
                        {
                            "first_seq": [first],
                            "n_frames": [len(pending)],
                            "payload": [encode_payload(pending)],
                        }
                    )
                    first = seq + 1
                    pending = []
        if pending:
            import pandas as pd

            yield pd.DataFrame(
                {
                    "first_seq": [first],
                    "n_frames": [len(pending)],
                    "payload": [encode_payload(pending)],
                }
            )

    return sel.mapInPandas(enc, schema=FRAMES_SCHEMA)


def frames_to_events(frames: DataFrame, keys: list[str]) -> DataFrame:
    """Decode payload blobs back to rows: (sequence, <keys...>) — the
    reader side. Unknown extra pairs are ignored; missing keys decode
    as NULL. Row-local mapInPandas, no shuffle."""
    schema = "sequence long, " + ", ".join(f"`{k}` string" for k in keys)

    def dec(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows: dict[str, list] = {"sequence": []}
            for k in keys:
                rows[k] = []
            for payload in pdf["payload"]:
                for t, v in decode_stream(bytes(payload)):
                    if t != "D":
                        continue
                    seq, pairs = v  # type: ignore[misc]
                    rows["sequence"].append(seq)
                    for k in keys:
                        rows[k].append(pairs.get(k))
            yield pd.DataFrame(rows)

    return frames.select("payload").mapInPandas(dec, schema=schema)


LJ_HARVEST_SCHEMA = (
    "spool_file string, sequence long, file string, host string, "
    "offset long, line string"
)


def harvest_lumberjack_files(spark, path_glob: str | list[str]) -> DataFrame:
    """Ingest lumberjack v1 SPOOL FILES — payload streams at rest (a
    captured connection, a queue dump, an object-store spool): binaryFile
    scan + the decode kernel, one row per data frame carrying the
    writer's standard keys (file/host/offset/line, publisher1.go:236-240;
    extra pairs are ignored here — ``frames_to_events`` reads arbitrary
    keys). Discovery/parallelism = the binaryFile glob, same as
    ``harvest_text_files``; decoding is row-local, zero shuffles."""
    raw = (
        spark.read.format("binaryFile").load(path_glob).select("path", "content")
    )

    def dec(batches: Iterator) -> Iterator:
        import pandas as pd

        cols = ("spool_file", "sequence", "file", "host", "offset", "line")
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in cols}
            for path, content in zip(pdf["path"], pdf["content"]):
                for t, v in decode_stream(bytes(content)):
                    if t != "D":
                        continue
                    seq, pairs = v  # type: ignore[misc]
                    rows["spool_file"].append(path)
                    rows["sequence"].append(seq)
                    rows["file"].append(pairs.get("file"))
                    rows["host"].append(pairs.get("host"))
                    off = pairs.get("offset")
                    try:
                        rows["offset"].append(int(off))
                    except (TypeError, ValueError):
                        rows["offset"].append(None)
                    rows["line"].append(pairs.get("line"))
            yield pd.DataFrame(rows)

    return raw.mapInPandas(dec, schema=LJ_HARVEST_SCHEMA)


def lumberjack_to_sequences(decoded: DataFrame, *, vocab: int = 2_147_483_647) -> DataFrame:
    """Bridge decoded lumberjack events into the pipeline's sequences
    shape — the same contract as ``textlog.lines_to_sequences``, with the
    reference's (path, offset) event identity taken from the FRAME's
    file/offset pairs (the shipper's identity, not the spool file's)."""
    tokens = hashed_tokens(vocab=vocab)
    return decoded.filter(F.col("line").isNotNull()).select(
        F.concat_ws(":", "file", F.col("offset").cast("string")).alias("doc_id"),
        tokens.alias("tokens"),
        F.size(tokens).cast("int").alias("n_tok"),
        F.regexp_extract("file", SOURCE_STEM_RE, 1).alias("source"),
    )
