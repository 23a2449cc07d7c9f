"""Lumberjack v1 over a real socket — the session layer on top of the
byte-golden frame codec (operators/lumberjack.py), closing the
reference's own e2e shape literally (reference: spec/lumberjack_spec.rb:66-91
drives lines through a TLS socket and asserts count, per-event line, and
annotated-field equality; writer loop: publisher1.go:33-127 Publishv1 —
send window + compressed payload, block for the bulk ack; reader/ack
contract: PROTOCOL.md:75-87).

Two halves:

* :class:`LumberjackServer` — a threaded localhost receiver: accepts
  connections, streams frames (opening ``1C`` envelopes via the SAME
  decode path the spool reader uses), collects events, and sends one
  bulk ``1A`` per window (ack of the highest sequence acknowledges
  everything at or below it). Test-fixture-sized by design: the
  production receiver is logstash; this exists so the publish path can
  be proven against a live socket, exactly like the reference's rspec
  server.
* :func:`publish_lumberjack` — ships a DataFrame with ONE CONNECTION
  PER PARTITION (the connection is the reference's unit of sequencing;
  sequences number 1..n within the partition, the codec's documented
  partition-scoped analog). Executor-side, a mapInArrow kernel over the
  codec's one bundle encoder (``lumberjack.encode_bundles``, the same
  one the spool writer ``events_to_frames`` runs, so values and nulls
  go out the same way on both paths): each partition's rows become
  flush bundles (window frame + one zlib envelope); each is sent, and
  the kernel BLOCKS for its bulk ack before the next bundle —
  publisher1.go's send-then-wait loop. Returns per-partition
  (n_events, acked) stats, collected eagerly: a ship is a side effect
  and must run exactly once (a lazy result DataFrame would re-ship per
  action).

TLS: both halves take an optional ``ssl.SSLContext`` — the transport
the reference wraps its socket in (spec generates a self-signed
CN=localhost cert; tests here do the same via the openssl CLI). Session
management beyond that (reconnect, multi-host failover) stays out of
scope per SURVEY O-R6.

At scale: one socket per partition means fan-in is bounded by partition
count, not row count; payload bundling amortizes syscalls and zlib;
acks gate memory (at most one un-acked bundle per connection in
flight). The 100 TB ship surface remains the parquet/manifest sink —
this is the wire-compatibility path.
"""

from __future__ import annotations

import socket
import threading
from collections.abc import Iterator

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame

from .lumberjack import (
    encode_ack_frame,
    encode_bundles,
    ordered_events,
    parse_frames,
)


# ---------------------------------------------------------------------------
# incremental frame reader (the only socket-specific byte code: exact reads;
# frame SEMANTICS are the codec's one parser, parse_frames)
# ---------------------------------------------------------------------------


def _read_exact(fp, n: int) -> bytes:
    """Exact read for :func:`~.lumberjack.parse_frames`: n bytes, b"" when
    the stream is closed before the first of them, ValueError when it is
    closed inside them."""
    buf = bytearray()
    while len(buf) < n:
        chunk = fp.read(n - len(buf))
        if not chunk:
            if not buf:
                return b""
            raise ValueError(
                f"lumberjack: connection closed mid-frame ({len(buf)}/{n} bytes)"
            )
        buf += chunk
    return bytes(buf)


def read_frames(fp) -> Iterator[tuple[str, object]]:
    """Stream ('W', n) / ('A', seq) / ('D', (seq, pairs)) from a file-like
    socket stream until EOF, through the codec's one parser. EOF between
    frames is a clean end; EOF inside a frame raises ValueError."""
    return parse_frames(lambda n: _read_exact(fp, n))


# ---------------------------------------------------------------------------
# receiver
# ---------------------------------------------------------------------------


class LumberjackServer:
    """Threaded lumberjack v1 receiver on localhost (test-fixture-sized;
    see module docstring). ``events`` accumulates every data frame's
    pairs dict (plus ``_sequence``/``_connection``) across connections,
    in arrival order, lock-protected."""

    def __init__(
        self, host: str = "127.0.0.1", port: int = 0, ssl_context=None
    ):
        self._ssl_context = ssl_context
        self._sock = socket.create_server((host, port))
        self._sock.settimeout(0.2)
        self.host, self.port = self._sock.getsockname()[:2]
        self.events: list[dict] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._conn_counter = 0
        self._threads: list[threading.Thread] = []
        self._accepter = threading.Thread(target=self._accept_loop, daemon=True)
        self._accepter.start()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _ = self._sock.accept()
            except socket.timeout:
                continue
            except OSError:
                return
            # accepted sockets INHERIT the listener's 0.2 s accept-poll
            # timeout (CPython semantics) — a writer pausing >0.2 s
            # between bytes would otherwise kill the connection mid-frame
            conn.settimeout(None)
            if self._ssl_context is not None:
                try:
                    conn = self._ssl_context.wrap_socket(conn, server_side=True)
                except Exception:
                    conn.close()
                    continue
            with self._lock:
                self._conn_counter += 1
                cid = self._conn_counter
            t = threading.Thread(
                target=self._handle, args=(conn, cid), daemon=True
            )
            t.start()
            self._threads.append(t)

    def _handle(self, conn, cid: int) -> None:
        """Per-connection reader: collect data frames, send one bulk ack
        per window (PROTOCOL.md:75-87 — ack of the highest sequence
        acknowledges everything at or below it)."""
        fp = conn.makefile("rb")
        window = 0
        unacked = 0
        top = 0
        try:
            for t, v in read_frames(fp):
                if t == "W":
                    window = int(v)  # type: ignore[arg-type]
                elif t == "D":
                    seq, pairs = v  # type: ignore[misc]
                    with self._lock:
                        self.events.append(
                            {**pairs, "_sequence": seq, "_connection": cid}
                        )
                    top = max(top, seq)
                    unacked += 1
                    if window and unacked >= window:
                        conn.sendall(encode_ack_frame(top))
                        unacked = 0
        except (ValueError, OSError):
            pass  # a dropped connection loses only its un-acked tail
        finally:
            try:
                conn.close()
            except OSError:
                pass

    def close(self) -> None:
        self._stop.set()
        try:
            self._sock.close()
        except OSError:
            pass
        for t in self._threads:
            t.join(timeout=2.0)


# ---------------------------------------------------------------------------
# publisher
# ---------------------------------------------------------------------------


def publish_lumberjack(
    df: DataFrame,
    host: str,
    port: int,
    pair_cols: list[str],
    order_col: str,
    frames_per_payload: int = 1024,
    timeout: float = 30.0,
    ssl_context_factory=None,
) -> list[dict]:
    """Ship ``df`` to a lumberjack receiver, one connection per
    partition, ack-gated per flush bundle. Eager (a ship must happen
    exactly once — see module docstring); returns per-partition stats
    ``[{"partition_id", "n_events", "acked"}, ...]``.

    ``ssl_context_factory``: a zero-arg picklable callable building the
    client SSLContext ON THE EXECUTOR (contexts themselves don't
    pickle)."""

    def ship(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else -1
        ssl_ctx = ssl_context_factory() if ssl_context_factory else None
        n = 0
        acked = 0
        sock = None
        try:
            for _, n_frames, payload in encode_bundles(
                batches, pair_cols, frames_per_payload
            ):
                if sock is None:
                    sock = socket.create_connection((host, port), timeout=timeout)
                    if ssl_ctx is not None:
                        sock = ssl_ctx.wrap_socket(sock, server_hostname=host)
                    acks = read_frames(sock.makefile("rb"))
                sock.sendall(payload)
                n += n_frames  # sequences run 1..n: the bundle's last is n
                while acked < n:
                    got = next(acks, None)
                    if got is None:
                        raise ValueError(
                            f"lumberjack: server closed before ack of {n}"
                        )
                    if got[0] == "A":
                        acked = max(acked, int(got[1]))
        finally:
            if sock is not None:
                try:
                    sock.close()
                except OSError:
                    pass
        yield pa.RecordBatch.from_arrays(
            [pa.array([pid], pa.int32()), pa.array([n]), pa.array([acked])],
            names=["partition_id", "n_events", "acked"],
        )

    stats = (
        ordered_events(df, pair_cols, order_col)
        .mapInArrow(ship, "partition_id int, n_events long, acked long")
        .collect()
    )
    return [r.asDict() for r in stats]
