"""The benchmark's helper processes, each run apart from the system under
test on the box's spare core.

``gen``: appends time-stamped log lines to N files at a fixed rate in
fixed ticks, on a schedule that does not slow when the consumer does, and
writes a ledger of every line's end offset and due time at exit.

``recv``: a lumberjack v1 receiver on 127.0.0.1. It acks each window,
counts and checksums the events, and answers ``stats`` on stdin with one
JSON line of running totals (``quit`` stops it).

    python3 perfbench/loadgen.py gen --dir D --files 16 --rate 2000 \
        --tick 0.1 --start T0 --seconds 10 --seed 1 --ledger L
    python3 perfbench/loadgen.py recv
"""

from __future__ import annotations

import argparse
import json
import os
import random
import socket
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lib import ReceiverState  # noqa: E402

WORDS = (
    "GET POST PUT /api/v1/items /static/app.js /login /health 200 201 204 "
    "301 404 500 503 upstream timeout cache hit miss user session token "
    "worker queue retry backoff shard replica leader commit flush rotate"
).split()


def log_line(rng: random.Random, seq: int, due: float) -> str:
    words = " ".join(rng.choice(WORDS) for _ in range(rng.randint(6, 22)))
    return f"{due:.6f} seq={seq} host=web{rng.randint(0, 31):02d} {words}\n"


def generate(args) -> int:
    paths = [os.path.join(args.dir, f"app{i:02d}.log") for i in range(args.files)]
    fds = [os.open(p, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644) for p in paths]
    ends = [os.path.getsize(p) for p in paths]
    rng = random.Random(args.seed)
    per_tick = max(1, round(args.rate * args.tick))
    n_ticks = max(1, round(args.seconds / args.tick))
    ledger = []
    seq = 0
    try:
        for k in range(n_ticks):
            due = args.start + k * args.tick
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            files: dict[str, list[int]] = {}
            chunks: dict[int, list[bytes]] = {}
            for j in range(per_tick):
                i = (seq + j) % args.files
                data = log_line(rng, seq + j, due).encode()
                chunks.setdefault(i, []).append(data)
                ends[i] += len(data)
                files.setdefault(paths[i], []).append(ends[i])
            seq += per_tick
            for i, parts in chunks.items():
                os.write(fds[i], b"".join(parts))
            ledger.append({"due": due, "late": time.monotonic() - due, "files": files})
    finally:
        for fd in fds:
            os.close(fd)
        tmp = args.ledger + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(ledger, fh)
        os.replace(tmp, args.ledger)
    return 0


class Receiver:
    def __init__(self):
        self.sock = socket.create_server(("127.0.0.1", 0))
        self.port = self.sock.getsockname()[1]
        self.lock = threading.Lock()
        self.conns: list[ReceiverState] = []
        self.errors: list[str] = []
        self.threads: list[threading.Thread] = []

    def serve(self) -> None:
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            st = ReceiverState()
            with self.lock:
                self.conns.append(st)
            t = threading.Thread(target=self._handle, args=(conn, st), daemon=True)
            t.start()
            self.threads.append(t)

    def _handle(self, conn, st: ReceiverState) -> None:
        try:
            with conn:
                while True:
                    data = conn.recv(1 << 16)
                    if not data:
                        break
                    with self.lock:
                        acks = st.feed(data)
                    for a in acks:
                        conn.sendall(a)
        except (OSError, ValueError) as e:
            with self.lock:
                self.errors.append(f"{type(e).__name__}: {e}")

    def stats(self) -> dict:
        with self.lock:
            sts = list(self.conns)
            return {
                "events": sum(s.events for s in sts),
                "windows": sum(s.windows for s in sts),
                "acks": sum(s.acks for s in sts),
                "bytes": sum(s.bytes for s in sts),
                "checksum": sum(s.checksum for s in sts) % (1 << 64),
                "connections": len(sts),
                "cpu_s": time.process_time(),
                "errors": list(self.errors),
            }


def receive(_args) -> int:
    rx = Receiver()
    threading.Thread(target=rx.serve, daemon=True).start()
    print(json.dumps({"port": rx.port}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "stats":
            print(json.dumps(rx.stats()), flush=True)
        elif cmd == "quit":
            break
    rx.sock.close()
    return 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="loadgen")
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("--dir", required=True)
    g.add_argument("--files", type=int, required=True)
    g.add_argument("--rate", type=float, required=True)
    g.add_argument("--tick", type=float, required=True)
    g.add_argument("--start", type=float, required=True)
    g.add_argument("--seconds", type=float, required=True)
    g.add_argument("--seed", type=int, required=True)
    g.add_argument("--ledger", required=True)
    sub.add_parser("recv")
    args = ap.parse_args(argv)
    return generate(args) if args.cmd == "gen" else receive(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
