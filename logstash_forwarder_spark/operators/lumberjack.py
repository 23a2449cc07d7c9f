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

Spark shape: encoding/decoding is row-local byte work over Arrow — one
bundle encoder (:func:`encode_bundles`: ``frames_per_payload`` rows per
payload blob, the writer's "bundle of events per flush") and one decoder
(:func:`decode_bundles`: payload bytes to Arrow columns). The spool
kernels here and the socket publisher (``lumberjack_net``) are mapInArrow
kernels over those two, so a value crosses the wire the same way on
every path: ``str()`` of its Python value, a bigint as its digits, and a
null as no pair at all. Zero shuffles in either direction. At 100 TB the
frame blobs ride the same partitioning as their source rows.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterable, Iterator

import pyarrow as pa
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
# Arrow bundle codec: the one encoder and the one decoder that every Spark
# kernel (spool and socket, both directions) runs
# ---------------------------------------------------------------------------


def encode_bundles(
    batches: Iterable[pa.RecordBatch], pair_cols: list[str], frames_per_payload: int
) -> Iterator[tuple[int, int, bytes]]:
    """Encode rows into flush bundles: ``(first_seq, n_frames, payload)``
    per ``frames_per_payload`` rows, rows numbered 1..n in batch order.
    Each value is sent as ``str()`` of its Python value, so a bigint
    goes out as its digits (publisher1.go:235 writes the offset with
    ``strconv.FormatInt``). A null value's pair is left out: the frame's
    pair count says how many pairs follow, and the reader decodes the
    missing key as NULL."""
    seq = 0
    pending: list[bytes] = []
    for batch in batches:
        cols = [batch.column(c).to_pylist() for c in pair_cols]
        for j in range(batch.num_rows):
            seq += 1
            pairs = [
                (c, str(v[j])) for c, v in zip(pair_cols, cols) if v[j] is not None
            ]
            pending.append(encode_data_frame(seq, pairs))
            if len(pending) >= frames_per_payload:
                yield seq - len(pending) + 1, len(pending), encode_payload(pending)
                pending = []
    if pending:
        yield seq - len(pending) + 1, len(pending), encode_payload(pending)


def decode_bundles(
    payloads: Iterable[bytes], keys: list[str]
) -> tuple[pa.RecordBatch, pa.Array]:
    """Decode payload blobs into Arrow columns ``(sequence, <keys...>)``,
    one row per data frame, and the index in ``payloads`` of each
    event's payload. Extra pairs are ignored; a missing key is NULL."""
    seqs: list[int] = []
    rows: list[int] = []
    vals: dict[str, list] = {k: [] for k in keys}
    for i, payload in enumerate(payloads):
        for t, v in decode_stream(payload):
            if t == "D":
                seq, pairs = v  # type: ignore[misc]
                seqs.append(seq)
                rows.append(i)
                for k in keys:
                    vals[k].append(pairs.get(k))
    events = pa.RecordBatch.from_arrays(
        [pa.array(seqs, pa.int64())] + [pa.array(vals[k], pa.string()) for k in keys],
        names=["sequence", *keys],
    )
    return events, pa.array(rows, pa.int64())


def ordered_events(df: DataFrame, pair_cols: list[str], order_col: str) -> DataFrame:
    """What an encoder kernel reads: ``pair_cols`` (and ``order_col``),
    sorted by ``order_col`` within each partition, the order sequences
    number in."""
    cols = dict.fromkeys([order_col, *pair_cols])
    return df.select(*cols).sortWithinPartitions(order_col)


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
    column in ``pair_cols`` becomes a k/v pair, mirroring the writer's
    file/host/offset/line map (see :func:`encode_bundles` for how values
    and nulls are rendered). Sequences number 1..n within the partition
    in ``order_col`` order (connection-scoped analog). Row-local: no
    shuffle; call ``coalesce(1)`` first if a single wire-order stream is
    required."""

    def enc(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for first, n, payload in encode_bundles(batches, pair_cols, frames_per_payload):
            yield pa.RecordBatch.from_pydict(
                {"first_seq": [first], "n_frames": [n], "payload": [payload]}
            )

    return ordered_events(df, pair_cols, order_col).mapInArrow(enc, FRAMES_SCHEMA)


def frames_to_events(frames: DataFrame, keys: list[str]) -> DataFrame:
    """Decode payload blobs back to rows: (sequence, <keys...>) — the
    reader side. Unknown extra pairs are ignored; missing keys decode
    as NULL. Row-local mapInArrow, no shuffle."""
    schema = "sequence long, " + ", ".join(f"`{k}` string" for k in keys)

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield decode_bundles(batch.column("payload").to_pylist(), keys)[0]

    return frames.select("payload").mapInArrow(dec, schema)


LJ_HARVEST_SCHEMA = (
    "spool_file string, sequence long, file string, host string, "
    "offset long, line string"
)


def _offset(value: str | None) -> int | None:
    try:
        return int(value)  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return None


def harvest_lumberjack_files(spark, path_glob: str | list[str]) -> DataFrame:
    """Ingest lumberjack v1 SPOOL FILES — payload streams at rest (a
    captured connection, a queue dump, an object-store spool): binaryFile
    scan + the decode kernel, one row per data frame carrying the
    writer's standard keys (file/host/offset/line, publisher1.go:236-240;
    extra pairs are ignored here — ``frames_to_events`` reads arbitrary
    keys). ``offset`` is Python ``int()`` of the pair's value, NULL when
    that raises or the pair is missing. Discovery/parallelism = the
    binaryFile glob, same as ``harvest_text_files``; decoding is
    row-local, zero shuffles."""
    raw = (
        spark.read.format("binaryFile").load(path_glob).select("path", "content")
    )
    keys = ["file", "host", "offset", "line"]

    def dec(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ev, rows = decode_bundles(batch.column("content").to_pylist(), keys)
            offsets = [_offset(v) for v in ev.column("offset").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("path").take(rows),
                    ev.column("sequence"),
                    ev.column("file"),
                    ev.column("host"),
                    pa.array(offsets, pa.int64()),
                    ev.column("line"),
                ],
                names=["spool_file", "sequence", *keys],
            )

    return raw.mapInArrow(dec, LJ_HARVEST_SCHEMA)


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
