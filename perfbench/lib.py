"""Pure helpers of the benchmark: spans, percentiles, the latency join, the
receiver's accounting, the batch oracle comparison and process-tree
resource readings. Nothing here imports Spark, so the helpers are tested
on their own (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import bisect
import hashlib
import json
import math
import os
import statistics
import struct
import threading
import time
import zlib
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent, workload, pass id).

    Disabled, ``span`` only yields; the end-to-end runs measure with it off.
    """

    def __init__(self, enabled: bool, workload: str):
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, pass_id: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "pass": pass_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    end = -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        for s in spans
    }


def span_medians(spans: list[dict], self_time: bool = False) -> dict[str, float]:
    """Per span name, the median duration (or self time) over its spans.
    Spans of the op passes win over those of the layer sweep: a layer the
    workload exercises is reported from its own passes."""
    st = self_times(spans) if self_time else None
    by_name: dict[str, dict[bool, list[float]]] = {}
    for s in spans:
        v = st[s["id"]] if st is not None else s["end"] - s["start"]
        by_name.setdefault(s["name"], {}).setdefault(s["pass"] == "sweep", []).append(v)
    return {
        name: statistics.median(d[False] if False in d else d[True])
        for name, d in by_name.items()
    }


def blocking_self_frac(spans: list[dict], pass_span: str) -> float:
    """Median over passes of (sum of the self times of the pass span and
    everything under it) / pass duration: how much of a pass the recorded
    spans account for. The self times partition the pass, so the value is
    1 up to gaps between child spans that no span covers."""
    st = self_times(spans)
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])

    def subtree_children_self(i: int) -> float:
        return sum(st[k] + subtree_children_self(k) for k in kids.get(i, []))

    fracs = []
    for s in spans:
        if s["name"] == pass_span:
            dur = s["end"] - s["start"]
            if dur > 0:
                fracs.append(subtree_children_self(s["id"]) / dur)
    return statistics.median(fracs) if fracs else 0.0


# ---------------------------------------------------------------------------
# percentiles
# ---------------------------------------------------------------------------

TAIL_PERCENTILES = (99.99, 99.9, 99.0, 90.0, 50.0)


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of the ``pct`` percentile among ``n`` samples
    (rounded first, so that 99.9% of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile of ``values`` by the nearest-rank rule."""
    xs = sorted(values)
    return xs[_rank(pct, len(xs)) - 1]


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) for the highest of ``TAIL_PERCENTILES`` that has
    at least ``beyond`` samples above its rank. With too few samples for
    any of them, (100, max): the worst sample is all the run supports."""
    n = len(values)
    if not n:
        raise ValueError("no samples")
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= beyond:
            return pct, nearest_rank(values, pct)
    return 100.0, max(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf


# ---------------------------------------------------------------------------
# tail_follow: generator ledger joined to committed offsets
# ---------------------------------------------------------------------------


def line_latencies(
    ledger: list[dict], commits: list[tuple[float, dict[str, int]]]
) -> tuple[list[float], int]:
    """Per generated line, the time from its due time to the return of the
    first commit whose persisted offset for its file reaches the line's end.

    ``ledger``: one record per generator tick, ``{"due": t, "files":
    {path: [end offset of each line written this tick, ...]}}``.
    ``commits``: ``(return time, {path: resume offset})`` per poll, in
    return order; offsets only grow. Returns (latencies, lines never
    covered by any commit)."""
    per_file: dict[str, tuple[list[int], list[float]]] = {}
    for t, offsets in commits:
        for path, off in offsets.items():
            offs, times = per_file.setdefault(path, ([], []))
            if not offs or off > offs[-1]:
                offs.append(off)
                times.append(t)
    lat: list[float] = []
    missing = 0
    for rec in ledger:
        for path, ends in rec["files"].items():
            offs, times = per_file.get(path, ([], []))
            for end in ends:
                i = bisect.bisect_left(offs, end)
                if i == len(offs):
                    missing += 1
                else:
                    lat.append(times[i] - rec["due"])
    return lat, missing


def lines_committed_by(
    ledger: list[dict], commits: list[tuple[float, dict[str, int]]], t: float
) -> int:
    """Ledger lines covered by commits that returned at or before ``t``."""
    lat, _ = line_latencies(ledger, [c for c in commits if c[0] <= t])
    return len(lat)


# ---------------------------------------------------------------------------
# wire_ship: lumberjack v1 receiver accounting (independent of the codec
# under test: frames are parsed here from the protocol description)
# ---------------------------------------------------------------------------

_MASK64 = (1 << 64) - 1


def event_digest(offset: str, line: str) -> int:
    """64-bit digest of one (offset, line) event; summed mod 2**64 it gives
    an order-insensitive checksum of a multiset of events."""
    h = hashlib.blake2b(f"{offset}\x00{line}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "big")


def checksum(events) -> int:
    return sum(event_digest(o, ln) for o, ln in events) & _MASK64


class ReceiverState:
    """Byte-stream accounting for one lumberjack v1 connection.

    ``feed`` takes raw bytes as they arrive and returns the ack frames to
    send: one ``1A`` with the highest sequence once a window's worth of
    data frames has arrived. Counts events, windows and bytes, and sums
    ``event_digest`` of each event's ``offset``/``line`` pairs."""

    def __init__(self):
        self._buf = bytearray()
        self.window = 0
        self.unacked = 0
        self.top_seq = 0
        self.events = 0
        self.windows = 0
        self.acks = 0
        self.bytes = 0
        self.checksum = 0

    def feed(self, data: bytes) -> list[bytes]:
        self.bytes += len(data)
        self._buf += data
        acks: list[bytes] = []
        while True:
            frame = self._take_frame()
            if frame is None:
                return acks
            kind, body = frame
            if kind == b"W":
                (self.window,) = struct.unpack(">I", body)
                self.windows += 1
            elif kind == b"C":
                self._data_frames(zlib.decompress(body))
            elif kind == b"D":
                self._data_frames(b"1D" + body)
            else:
                raise ValueError(f"unexpected frame {kind!r}")
            if self.window and self.unacked >= self.window:
                acks.append(b"1A" + struct.pack(">I", self.top_seq))
                self.acks += 1
                self.unacked = 0

    def _take_frame(self):
        buf = self._buf
        if len(buf) < 6:
            return None
        if buf[0:1] != b"1":
            raise ValueError(f"bad version byte {bytes(buf[0:1])!r}")
        kind = bytes(buf[1:2])
        if kind == b"W":
            end = 6
            body = bytes(buf[2:6])
        elif kind == b"C":
            (n,) = struct.unpack_from(">I", buf, 2)
            end = 6 + n
            if len(buf) < end:
                return None
            body = bytes(buf[6:end])
        elif kind == b"D":
            end = _data_frame_end(buf, 0)
            if end is None:
                return None
            body = bytes(buf[2:end])
        else:
            raise ValueError(f"unexpected frame type {kind!r}")
        del buf[:end]
        return kind, body

    def _data_frames(self, raw: bytes) -> None:
        pos = 0
        while pos < len(raw):
            if raw[pos : pos + 2] != b"1D":
                raise ValueError("compressed payload holds a non-data frame")
            seq, n_pairs = struct.unpack_from(">II", raw, pos + 2)
            pos += 10
            pairs = {}
            for _ in range(n_pairs):
                (kl,) = struct.unpack_from(">I", raw, pos)
                k = raw[pos + 4 : pos + 4 + kl].decode()
                pos += 4 + kl
                (vl,) = struct.unpack_from(">I", raw, pos)
                pairs[k] = raw[pos + 4 : pos + 4 + vl].decode()
                pos += 4 + vl
            self.events += 1
            self.unacked += 1
            self.top_seq = max(self.top_seq, seq)
            self.checksum = (
                self.checksum + event_digest(pairs.get("offset", ""), pairs.get("line", ""))
            ) & _MASK64


def _data_frame_end(buf, pos: int) -> int | None:
    """End offset of the uncompressed data frame at ``pos``, or None while
    it is incomplete."""
    if len(buf) < pos + 10:
        return None
    (n_pairs,) = struct.unpack_from(">I", buf, pos + 6)
    p = pos + 10
    for _ in range(2 * n_pairs):
        if len(buf) < p + 4:
            return None
        (n,) = struct.unpack_from(">I", buf, p)
        p += 4 + n
        if len(buf) < p:
            return None
    return p


# ---------------------------------------------------------------------------
# batch_ship: per-(sink, source) metrics against an independent computation
# ---------------------------------------------------------------------------


def compare_sink_metrics(
    got: dict[tuple[str, str], tuple[int, int, int]],
    want: dict[tuple[str, str], tuple[int, int, int]],
) -> list[str]:
    """Differences between the pipeline's ``_metrics`` and the oracle, both
    ``{(sink, source): (row_count, token_total, max_tokens)}``. Empty when
    they agree."""
    diffs = []
    for key in sorted(set(got) | set(want)):
        g, w = got.get(key), want.get(key)
        if g != w:
            diffs.append(f"{key}: pipeline {g} != oracle {w}")
    return diffs


def route_case_sql(routes: list[tuple[int, str, str]]) -> str:
    """``default_routes()`` as one SQL CASE (first matching priority wins,
    the last rule is the default)."""
    rules = sorted(routes)
    branches = " ".join(f"WHEN {pred} THEN '{sink}'" for _, pred, sink in rules[:-1])
    return f"CASE {branches} ELSE '{rules[-1][2]}' END"


# ---------------------------------------------------------------------------
# process-tree resources
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root`` (not ``root`` itself)."""
    kids = _children_map()
    todo, out = list(kids.get(root, [])), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process rather than to
    init (Linux ``PR_SET_CHILD_SUBREAPER``), so that ``reap_descendants``
    still sees, and waits for, a worker whose parent JVM has exited."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace: float) -> list[str]:
    """Wait until no process is left below this one: reap every child
    that has ended, give the others ``grace`` seconds to end, then kill
    them. Returns the names of the processes that had to be killed."""
    import signal

    deadline = time.monotonic() + grace
    killed: dict[int, str] = {}
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        left = descendants(os.getpid())
        if not left:
            return [f"{name}:{pid}" for pid, name in killed.items()]
        if time.monotonic() >= deadline:
            for pid in left:
                if pid in killed:
                    continue
                name = _comm(pid)
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed[pid] = name
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid``: its resident pages, each shared
    page divided among the processes that map it. A fork (a Python worker,
    a JVM child running a shell command) so adds only the pages it owns."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0  # a kernel thread or a process that is exiting


def tree_rss(root: int) -> dict[int, int]:
    """Resident memory in bytes (proportional set size) of ``root`` and
    each of its descendants."""
    out = {}
    for pid in [root, *descendants(root)]:
        try:
            out[pid] = _pss_bytes(pid)
        except OSError:  # the process has ended
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the process tree's resident memory (``tree_rss``) on a
    thread until ``stop``; keeps the per-process breakdown of the peak
    sample in ``at_peak``."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss(self.root)
        total = sum(rss.values())
        if total > self.peak:
            self.peak = total
            self.at_peak = {f"{_comm(p)}:{p}": v for p, v in rss.items()}

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return self.peak


def host_calib_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed pure-Python loop on one core: how fast the host
    runs this process right now. Contention from other tenants of the
    machine shows here even when steal time stays near 0."""
    t = time.perf_counter()
    sum(i * i for i in range(n))
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0
