"""The repository benchmark: one workload per run, outputs checked, one
JSON result as the last line of stdout.

    python3 perfbench/run.py --workload batch_ship --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Spark runs on ``local[3]``; the
fourth core is left to the load generator or receiver process and to
this driver. With ``--trace 0`` the result holds the end-to-end metrics,
with ``--trace 1`` the per-layer metrics (spans are also written to
``.perfbench_out/``). See perfbench/README.md for the workloads and
metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "logstash_forwarder_spark"
CORES = 3
SETUP_REPEATS = 3
SWEEP_LINES = 2_000
CODEC_EVENTS = 50_000
WIRE_EVENTS = 20_000
SWEEP_QUERIES = ("dedup_exact", "text_quality", "heavy_hitters", "mutate_chain")

sys.path.insert(0, str(HERE))

import lib  # noqa: E402


# ---------------------------------------------------------------------------
# measurement context
# ---------------------------------------------------------------------------


class Ctx:
    def __init__(self, spark, work: Path, seed: int, tracer: lib.Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {}
        self.errors: list[str] = []

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str, pass_id: str):
        return self.tracer.span(name, pass_id)

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def gate(self, ok: bool, msg: str) -> bool:
        if not ok:
            self.errors.append(msg)
            print(f"perfbench: GATE FAILED: {msg}", file=sys.stderr)
        return ok

    @contextmanager
    def jobs(self, counter: str | None = None, shuffle: str | None = None):
        """Count the Spark jobs (and shuffle bytes written) of the calls
        inside, via a job group, when tracing."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        gid = f"pb-{uuid.uuid4().hex[:10]}"
        sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            jids = sc.statusTracker().getJobIdsForGroup(gid)
            if counter:
                self.sample(counter, len(jids))
            if shuffle:
                self.sample(shuffle, shuffle_write_bytes(self.spark, jids))


def shuffle_write_bytes(spark, job_ids) -> int:
    """Shuffle bytes written by the stages of ``job_ids`` (Spark's status
    store, after the listener bus has caught up)."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        for sid in info.stageIds if info else []:
            try:
                total += int(store.lastStageAttempt(sid).shuffleWriteBytes())
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
    return total


def dir_files_bytes(path: Path) -> tuple[int, int]:
    n = size = 0
    for p in path.rglob("*.parquet"):
        n += 1
        size += p.stat().st_size
    return n, size


def write_state(path: Path, state: dict) -> None:
    """The tail loop's offsets file, swapped in atomically (as run.py does)."""
    tmp = path.with_name(f"{path.name}.tmp.{uuid.uuid4().hex[:8]}")
    tmp.write_text(json.dumps({k: list(v) for k, v in state.items()}))
    os.replace(tmp, path)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def closed_loop(seconds: float):
    """Pass numbers for a closed loop: a next pass starts while the window
    of ``seconds`` is open; the last one may end after it."""
    deadline = time.monotonic() + seconds
    i = 0
    while i == 0 or time.monotonic() < deadline:
        yield i
        i += 1


# ---------------------------------------------------------------------------
# layer sweep: each layer's public call once, over a slice of the
# workload's own input, for the layers its passes do not exercise
# ---------------------------------------------------------------------------


def plan_probes(ctx: Ctx, seqs, dim, spec, pass_id: str) -> None:
    """``parse_stage`` and ``build_plan`` into a noop sink."""
    from logstash_forwarder_spark.operators.parse import parse_stage
    from logstash_forwarder_spark.pipeline import build_plan

    with ctx.span("parse.noop", pass_id):
        noop(parse_stage(seqs))
    with ctx.span("route.plan_noop", pass_id):
        noop(build_plan(seqs, dim, spec))


def aggregate_probe(ctx: Ctx, out_dir: str, run_id: str, pass_id: str) -> None:
    """``sink_source_counts`` over a published run into a noop sink."""
    from logstash_forwarder_spark.operators.aggregate import sink_source_counts

    run_dir = Path(out_dir) / f"run_id={run_id}"
    if not any(run_dir.glob("sink=*")):
        return
    df = ctx.spark.read.option("basePath", str(run_dir)).parquet(
        *[str(p) for p in sorted(run_dir.glob("sink=*"))]
    )
    with ctx.jobs(shuffle="aggregate.shuffle_bytes"):
        with ctx.span("aggregate.noop", pass_id):
            noop(sink_source_counts(df))


def traced_pipeline(ctx: Ctx, seqs, dim, spec, pass_id: str):
    """``run_pipeline`` inside a span, with its jobs and files counted
    (traced runs only)."""
    from logstash_forwarder_spark.pipeline import run_pipeline

    with ctx.jobs(counter="spark.jobs_per_call"):
        with ctx.span("pipeline.run_pipeline", pass_id):
            res = run_pipeline(ctx.spark, seqs, dim, spec)
    n, size = dir_files_bytes(Path(spec.out_dir) / f"run_id={spec.run_id}")
    ctx.sample("pipeline.files_written", n)
    ctx.sample("pipeline.bytes_written", size)
    return res


def registrar_probe(ctx: Ctx, out_dir: str, run_id: str, pass_id: str) -> None:
    from logstash_forwarder_spark.plans.registrar import Registrar

    reg = Registrar(os.path.join(out_dir, "_checkpoint"))
    with ctx.span("registrar.committed_sinks", pass_id):
        reg.committed_sinks(run_id)
    ctx.sample("registrar.commit_files", len(list(Path(reg.path).glob("*.parquet"))))


def codec_probe(ctx: Ctx, lines: list[str]) -> None:
    """The lumberjack frame codec, driver-side, over CODEC_EVENTS events
    cycled from ``lines``."""
    from logstash_forwarder_spark.operators.lumberjack import (
        encode_data_frame,
        encode_payload,
    )

    with ctx.span("lumberjack.encode", "sweep"):
        frames: list[bytes] = []
        for i in range(CODEC_EVENTS):
            line = lines[i % len(lines)]
            frames.append(
                encode_data_frame(
                    i + 1,
                    [("file", "/var/log/app.log"), ("host", "bench"),
                     ("offset", str(i * 97)), ("line", line)],
                )
            )
            if len(frames) == 1024:
                encode_payload(frames)
                frames.clear()
        if frames:
            encode_payload(frames)


class Receiver:
    """The lumberjack receiver process (``loadgen.py recv``)."""

    def __init__(self):
        self.proc = subprocess.Popen(
            [sys.executable, str(HERE / "loadgen.py"), "recv"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.port = json.loads(self.proc.stdout.readline())["port"]

    def stats(self) -> dict:
        self.proc.stdin.write("stats\n")
        self.proc.stdin.flush()
        return json.loads(self.proc.stdout.readline())

    def close(self) -> None:
        try:
            self.proc.stdin.write("quit\n")
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except (OSError, ValueError, subprocess.TimeoutExpired):
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


def wire_probe(ctx: Ctx, lines: list[str]) -> int:
    """``publish_lumberjack`` of WIRE_EVENTS events cycled from ``lines``,
    one connection per partition, to a receiver process. Returns the
    number of events not acked, not received, or received wrong."""
    from logstash_forwarder_spark.operators.lumberjack_net import publish_lumberjack

    events, off = [], 0
    for i in range(WIRE_EVENTS):
        line = lines[i % len(lines)]
        events.append(("/var/log/sweep.log", "bench", str(off), line))
        off += len(line.encode()) + 1
    df = ctx.spark.createDataFrame(
        events, "file string, host string, offset string, line string"
    ).repartition(CORES)
    want = lib.checksum((o, ln) for _, _, o, ln in events)
    rx = Receiver()
    try:
        before = rx.stats()
        with ctx.span("lumberjack.publish", "sweep"):
            t0 = time.monotonic()
            stats = publish_lumberjack(
                df, "127.0.0.1", rx.port,
                pair_cols=["file", "host", "offset", "line"], order_col="offset",
            )
            dt = time.monotonic() - t0
        after = rx.stats()
    finally:
        rx.close()
    shipped = sum(s["n_events"] for s in stats)
    acked = sum(s["acked"] for s in stats)
    got = after["events"] - before["events"]
    ctx.sample("wire.bytes_on_wire", after["bytes"] - before["bytes"])
    ctx.sample("wire.windows", after["windows"] - before["windows"])
    ctx.sample("wire.receiver_busy_frac", (after["cpu_s"] - before["cpu_s"]) / dt)
    bad = WIRE_EVENTS - min(acked, got, shipped)
    if after["checksum"] != want or after["errors"]:
        bad = WIRE_EVENTS
    ctx.gate(
        bad == 0,
        f"wire: acked {acked}, shipped {shipped}, received {got} of {WIRE_EVENTS}, "
        f"checksum match {after['checksum'] == want}, receiver errors {after['errors'][:3]}",
    )
    return bad


def write_documents(path: Path, lines: list[str], seed: int) -> None:
    """A ``documents`` table (doc_id, text, lang, source, n_chars) for the
    operator queries, one row per line."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    langs = ["en", "de", "fr", "es", "zh"]
    texts = [ln.strip() for ln in lines]
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "lang": [rng.choice(langs) for _ in texts],
            "source": [f"src{rng.randrange(20)}" for _ in texts],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "documents.parquet")


def query_probe(ctx: Ctx, lines: list[str]) -> int:
    """Operator-library queries (``queries.registry()``) over a documents
    table built from the lines; each row count is checked against the
    query's DuckDB oracle. Returns the number of queries that failed it."""
    import duckdb

    from logstash_forwarder_spark.queries import registry

    sf = ctx.work / "sweep_sf"
    write_documents(sf, lines, ctx.seed)
    reg = registry()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    failed = 0
    for name in SWEEP_QUERIES:
        fn, oracle = reg[name]
        with ctx.span(f"q.{name}", "sweep"):
            noop(fn(ctx.spark, str(sf)))
        got = fn(ctx.spark, str(sf)).count()
        want = con.execute(f"SELECT count(*) FROM ({oracle})").fetchone()[0]
        failed += not ctx.gate(got == want, f"query {name}: {got} rows, oracle {want}")
    con.close()
    return failed


def sweep(ctx: Ctx, lines: list[str], skip: set[str]) -> int:
    """Time every layer ``skip`` does not name, once, over ``lines``.
    Returns the number of failed operations (events and queries)."""
    from logstash_forwarder_spark.datagen import gen_source_dim
    from logstash_forwarder_spark.pipeline import PipelineSpec
    from logstash_forwarder_spark.sources.textlog import (
        lines_to_sequences,
        poll_tail_once,
    )

    lines = lines[:SWEEP_LINES]
    logs = ctx.work / "sweep_logs"
    logs.mkdir(parents=True, exist_ok=True)
    for i in range(4):
        (logs / f"s{i}.log").write_text("".join(ln.rstrip("\n") + "\n" for ln in lines[i::4]))
    out = str(ctx.work / "sweep_out")
    dim = gen_source_dim(ctx.spark)
    spec = PipelineSpec(out_dir=out, run_id="sweep")
    if "sources" not in skip or "pipeline" not in skip:
        with ctx.span("sources.poll_tail_once", "sweep"):
            harvested, state = poll_tail_once(ctx.spark, str(logs / "*.log"), {})
            n = harvested.count()
    if "sources" not in skip:
        ctx.sample("sources.lines_per_poll", n)
        ctx.sample("sources.bytes_per_poll", sum(v[0] for v in state.values()))
        with ctx.span("sources.state_write", "sweep"):
            write_state(ctx.work / "sweep_state.json", state)
    if "pipeline" not in skip:
        seqs = lines_to_sequences(harvested)
        plan_probes(ctx, seqs, dim, spec, "sweep")
        registrar_probe(ctx, out, spec.run_id, "sweep")
        traced_pipeline(ctx, seqs, dim, spec, "sweep")
        aggregate_probe(ctx, out, spec.run_id, "sweep")
    codec_probe(ctx, lines)
    return wire_probe(ctx, lines) + query_probe(ctx, lines)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class BatchShip:
    """Closed loop, one caller: ``run_pipeline`` over a generated sequences
    table, a fresh ``out_dir`` and ``run_id`` per call."""

    pass_span = "batch.pass"

    ROWS = 30_000
    WARMUP_PASSES = 2
    on_path = {"pipeline"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.input = ctx.work / "batch_input"
        self.lat: list[float] = []
        self.calls = 0
        self.failed = 0

    def setup(self) -> None:
        from logstash_forwarder_spark.datagen import gen_sequences

        gen_sequences(
            self.ctx.spark, self.ROWS, seed=self.ctx.seed, num_partitions=2 * CORES
        ).write.mode("overwrite").parquet(str(self.input))
        self.want, self.n_rows, self.token_bytes = self.oracle()

    def oracle(self):
        """Per-(sink, source) (row_count, token_total, max_tokens) of the
        input under ``default_routes()`` and ``gen_source_dim``, in DuckDB."""
        import re

        import duckdb

        from logstash_forwarder_spark.datagen import default_routes, gen_source_dim

        dim = [(r["source"], dict(r["fields"])) for r in gen_source_dim(self.ctx.spark).collect()]
        keys = sorted({k for _, f in dim for k in f})
        cols = ", ".join(f"f_{k}" for k in keys)
        values = ", ".join(
            "(" + ", ".join([f"'{s}'"] + [f"'{f[k]}'" for k in keys]) + ")" for s, f in dim
        )
        routes = [
            (p, re.sub(r"fields\['(\w+)'\]", r"f_\1", pred), sink)
            for p, pred, sink in default_routes()
        ]
        con = duckdb.connect()
        rows = con.execute(
            f"""
            WITH dim(source, {cols}) AS (VALUES {values}),
            routed AS (
              SELECT {lib.route_case_sql(routes)} AS sink, d.source, d.n_tok
              FROM read_parquet('{self.input}/*.parquet') d
              LEFT JOIN dim USING (source))
            SELECT sink, source, count(*), sum(n_tok), max(n_tok)
            FROM routed GROUP BY sink, source
            """
        ).fetchall()
        con.close()
        want = {(s, src): (int(c), int(t), int(m)) for s, src, c, t, m in rows}
        n_rows = sum(v[0] for v in want.values())
        token_bytes = 4 * sum(v[1] for v in want.values())
        return want, n_rows, token_bytes

    def warmup(self) -> list[float]:
        """Untimed calls on the input. The first pays the JVM's cold start;
        calls keep getting faster for a few more as the JIT compiles the
        per-job paths, so one more call is made before timing."""
        seqs = self.ctx.spark.read.parquet(str(self.input))
        return [self.call(seqs, f"warmup{i}", check=False) for i in range(self.WARMUP_PASSES)]

    def call(self, seqs, pass_id: str, check: bool = True) -> float:
        from logstash_forwarder_spark.datagen import gen_source_dim
        from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline

        ctx = self.ctx
        out = ctx.work / f"batch_out_{pass_id}"
        spec = PipelineSpec(out_dir=str(out), run_id=f"b{pass_id}")
        dim = gen_source_dim(ctx.spark)
        with ctx.span(self.pass_span, pass_id):
            if ctx.traced:
                registrar_probe(ctx, spec.out_dir, spec.run_id, pass_id)
            t0 = time.monotonic()
            if ctx.traced:
                res = traced_pipeline(ctx, seqs, dim, spec, pass_id)
            else:
                res = run_pipeline(ctx.spark, seqs, dim, spec)
            dt = time.monotonic() - t0
        if check:
            self.calls += 1
            ok = ctx.gate(
                res.rows_staged == self.n_rows,
                f"batch {pass_id}: rows_staged {res.rows_staged} != {self.n_rows}",
            )
            diffs = lib.compare_sink_metrics(self.read_metrics(res.metrics_path), self.want)
            ok &= ctx.gate(not diffs, f"batch {pass_id}: _metrics differ: {diffs[:5]}")
            self.failed += not ok
        if ctx.traced:
            ctx.sample("parse.token_bytes", self.token_bytes)
            plan_probes(ctx, seqs, dim, spec, pass_id)
            aggregate_probe(ctx, spec.out_dir, spec.run_id, pass_id)
        shutil.rmtree(out, ignore_errors=True)
        return dt

    @staticmethod
    def read_metrics(path: str) -> dict:
        import pyarrow.parquet as pq

        t = pq.read_table(path).to_pylist()
        return {
            (r["sink"], r["source"]): (int(r["row_count"]), int(r["token_total"]), int(r["max_tokens"]))
            for r in t
        }

    def measure(self, seconds: float) -> dict:
        seqs = self.ctx.spark.read.parquet(str(self.input))
        for i in closed_loop(seconds):
            self.lat.append(self.call(seqs, f"p{i}"))
        return {
            "latency": self.lat,
            "attempted": self.calls,
            "failed": self.failed,
        }

    def sweep_lines(self) -> list[str]:
        import pyarrow.parquet as pq

        t = pq.read_table(str(self.input), columns=["tokens"])
        out = []
        for toks in t.column("tokens").to_pylist():
            if toks:
                out.append(" ".join(f"t{x}" for x in toks[:24]))
            if len(out) == SWEEP_LINES:
                break
        return out

    def close(self) -> None:
        pass


class TailFollow:
    """Open loop: a generator process appends lines to 16 files at a fixed
    rate while the consumer polls every POLL_EVERY seconds from the
    generator's start, in ``run.py``'s tail-loop order: poll_tail_once ->
    lines_to_sequences -> run_pipeline -> state. The last poll, at the end
    of the window, takes what is left."""

    pass_span = "tail.pass"

    FILES = 16
    RATE = 2_000.0
    TICK = 0.1
    SEED_POLLS = 250
    POLL_EVERY = 5.0  # the reference forwarder's spool idle timeout
    HISTORY_LINES = 40
    WARMUP_PASSES = 3
    on_path = {"sources", "pipeline"}

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.state: dict = {}
        self.commits: list[tuple[float, dict[str, int]]] = []
        self.poll_runs: list[str] = []
        self.poll_no = 0
        self.gen = None
        self.probe_later: list[tuple] = []

    def setup(self) -> None:
        """The state of a daemon that has run for a while: log files whose
        history is already consumed, and SEED_POLLS prior poll runs x 4
        sinks in the registrar."""
        from loadgen import log_line

        from logstash_forwarder_spark.datagen import default_routes
        from logstash_forwarder_spark.operators.route import sink_names
        from logstash_forwarder_spark.plans.registrar import LineageRow, Registrar

        self.logs = self.ctx.work / "tail_logs"
        self.out = self.ctx.work / "tail_out"
        shutil.rmtree(self.logs, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)
        self.logs.mkdir(parents=True)
        rng = random.Random(self.ctx.seed)
        for i in range(self.FILES):
            with open(self.logs / f"app{i:02d}.log", "w") as fh:
                fh.writelines(log_line(rng, j, 0.0) for j in range(self.HISTORY_LINES))
        reg = Registrar(str(self.out / "_checkpoint"))
        for p in range(self.SEED_POLLS):
            for sink in sink_names(default_routes()):
                reg.commit(f"seed-p{p}", sink, [LineageRow(0, 8, 160)])
        self.state_path = self.out / "_tailstate.json"
        self.state = {
            str(p): (p.stat().st_size, self.HISTORY_LINES)
            for p in sorted(self.logs.glob("*.log"))
        }

    def warmup(self) -> list[float]:
        """Untimed poll cycles, each over a little growth of every file. The
        first pays the JVM's cold start, the next ones JIT warm-up. They
        publish to an output dir of their own whose registrar starts empty:
        the scan of the seeded one is Python work that needs no warming."""
        from loadgen import log_line

        rng = random.Random(self.ctx.seed + 1)
        out = self.ctx.work / "tail_warmup_out"
        shutil.rmtree(out, ignore_errors=True)
        passes = []
        for i in range(self.WARMUP_PASSES):
            for p in sorted(self.logs.glob("*.log")):
                with open(p, "a") as fh:
                    fh.writelines(log_line(rng, j, 0.0) for j in range(20))
            t = time.monotonic()
            self.cycle(f"warmup{i}", out)
            passes.append(time.monotonic() - t)
        self.commits.clear()
        self.poll_runs.clear()
        return passes

    def cycle(self, pass_id: str, out: Path | None = None) -> int:
        from logstash_forwarder_spark.datagen import gen_source_dim
        from logstash_forwarder_spark.pipeline import PipelineSpec, run_pipeline
        from logstash_forwarder_spark.sources.textlog import (
            lines_to_sequences,
            poll_tail_once,
            release_poll_checkpoint,
        )

        ctx = self.ctx
        spark = ctx.spark
        out = out or self.out
        dim = gen_source_dim(spark)
        run_id = f"t-p{self.poll_no}"
        seqs = None
        with ctx.span(self.pass_span, pass_id):
            if ctx.traced:
                registrar_probe(ctx, str(out), run_id, pass_id)
            with ctx.span("sources.poll_tail_once", pass_id):
                harvested, new_state = poll_tail_once(spark, str(self.logs / "*.log"), self.state)
                n = harvested.count()
            spec = PipelineSpec(out_dir=str(out), run_id=run_id)
            if n:
                seqs = lines_to_sequences(harvested)
                if ctx.traced:
                    traced_pipeline(ctx, seqs, dim, spec, pass_id)
                else:
                    run_pipeline(spark, seqs, dim, spec)
                self.poll_runs.append(run_id)
            with ctx.span("sources.state_write", pass_id):
                write_state(self.state_path, new_state)
        t_commit = time.monotonic()
        grown = sum(v[0] - self.state.get(k, (0,))[0] for k, v in new_state.items())
        self.state = new_state
        self.commits.append((t_commit, {k: int(v[0]) for k, v in new_state.items()}))
        self.poll_no += 1
        if ctx.traced and n:
            # probed after the window, so that they do not delay polls
            ctx.sample("sources.lines_per_poll", n)
            ctx.sample("sources.bytes_per_poll", grown)
            self.probe_later.append((harvested, seqs, dim, spec, pass_id))
        else:
            release_poll_checkpoint(harvested)
        return n

    def probe_polls(self) -> None:
        from pyspark.sql import functions as F

        from logstash_forwarder_spark.sources.textlog import release_poll_checkpoint

        for harvested, seqs, dim, spec, pass_id in self.probe_later:
            n_tok = seqs.agg(F.sum("n_tok")).first()[0] or 0
            self.ctx.sample("parse.token_bytes", 4 * n_tok)
            plan_probes(self.ctx, seqs, dim, spec, pass_id)
            aggregate_probe(self.ctx, spec.out_dir, spec.run_id, pass_id)
            release_poll_checkpoint(harvested)
        self.probe_later.clear()

    def measure(self, seconds: float) -> dict:
        ledger_path = self.ctx.work / "ledger.json"
        t0 = time.monotonic() + 0.2
        self.gen = subprocess.Popen(
            [sys.executable, str(HERE / "loadgen.py"), "gen", "--dir", str(self.logs),
             "--files", str(self.FILES), "--rate", str(self.RATE), "--tick", str(self.TICK),
             "--start", repr(t0), "--seconds", str(seconds), "--seed", str(self.ctx.seed),
             "--ledger", str(ledger_path)],
        )
        t_end = t0 + seconds
        # polls on a fixed schedule from the generator's start, the last one
        # at the end of the window once the generator has stopped; a poll
        # that ends late starts the next one at once
        durations = []
        for k in range(1, math.ceil(seconds / self.POLL_EVERY) + 1):
            at = t0 + min(seconds, k * self.POLL_EVERY)
            time.sleep(max(0.0, at - time.monotonic()))
            if at >= t_end and self.gen.wait(timeout=60) != 0:
                raise RuntimeError("load generator failed")
            started = time.monotonic()
            self.cycle(f"p{k - 1}")
            durations.append(time.monotonic() - started)
        ledger = json.loads(ledger_path.read_text())
        n_lines = sum(len(e) for rec in ledger for e in rec["files"].values())
        for _ in range(3):  # only if a poll missed lines
            if lib.lines_committed_by(ledger, self.commits, float("inf")) == n_lines:
                break
            started = time.monotonic()
            self.cycle(f"p{len(durations)}")
            durations.append(time.monotonic() - started)
        lat, missing = lib.line_latencies(ledger, self.commits)
        lates = [rec["late"] for rec in ledger]
        self.ctx.sample("tail.polls", len(durations))
        self.ctx.sample("tail.cycle_s", statistics.median(durations))
        self.ctx.sample(
            "tail.backlog_end_lines", n_lines - lib.lines_committed_by(ledger, self.commits, t_end)
        )
        late_ms = lib.nearest_rank(lates, 99) * 1e3
        self.ctx.sample("tail.gen_late_ms_p99", late_ms)
        print(
            f"perfbench: tail: {n_lines} lines, poll cycles "
            f"{[round(d, 2) for d in durations]} s, generator lateness p99 {late_ms:.2f} ms",
            file=sys.stderr,
        )
        failed = missing + self.verify(n_lines)
        self.probe_polls()
        return {
            "latency": lat,
            "attempted": n_lines,
            "failed": failed,
        }

    def verify(self, n_lines: int) -> int:
        """Every generated line committed exactly once over the run's own
        poll run_ids; returns the number of lost or duplicated lines."""
        import duckdb

        globs = [str(self.out / f"run_id={r}" / "sink=*" / "*.parquet") for r in self.poll_runs]
        con = duckdb.connect()
        total, distinct = con.execute(
            "SELECT count(*), count(DISTINCT doc_id) FROM read_parquet(?)", [globs]
        ).fetchone()
        con.close()
        self.ctx.gate(
            total == distinct == n_lines,
            f"tail: {total} rows, {distinct} distinct doc_ids, {n_lines} generated lines",
        )
        return abs(total - n_lines) + (total - distinct)

    def sweep_lines(self) -> list[str]:
        return (self.logs / "app00.log").read_text().splitlines()[-SWEEP_LINES:]

    def close(self) -> None:
        if self.gen is not None and self.gen.poll() is None:
            self.gen.kill()
            self.gen.wait()


WORKLOADS = {"batch_ship": BatchShip, "tail_follow": TailFollow}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def per_layer(ctx: Ctx, pass_span: str, common: dict) -> dict:
    spans = [s for s in ctx.tracer.spans if s["end"] is not None]
    med = lib.span_medians(spans)

    def smp(name: str) -> float:
        v = ctx.samples.get(name)
        return statistics.median(v) if v else 0.0

    out = {
        "parse.noop_s": (med["parse.noop"], "s"),
        "parse.token_bytes": (smp("parse.token_bytes"), "bytes"),
        "route.self_s": (med["route.plan_noop"] - med["parse.noop"], "s"),
        "pipeline.run_s": (med["pipeline.run_pipeline"], "s"),
        "pipeline.write_self_s": (med["pipeline.run_pipeline"] - med["route.plan_noop"], "s"),
        "pipeline.files_written": (smp("pipeline.files_written"), "count"),
        "pipeline.bytes_written": (smp("pipeline.bytes_written"), "bytes"),
        "spark.jobs_per_call": (smp("spark.jobs_per_call"), "count"),
        "aggregate.noop_s": (med["aggregate.noop"], "s"),
        "aggregate.shuffle_bytes": (smp("aggregate.shuffle_bytes"), "bytes"),
        "registrar.committed_sinks_s": (med["registrar.committed_sinks"], "s"),
        "registrar.commit_files": (smp("registrar.commit_files"), "count"),
        "sources.poll_s": (med["sources.poll_tail_once"], "s"),
        "sources.state_write_s": (med["sources.state_write"], "s"),
        "sources.lines_per_poll": (smp("sources.lines_per_poll"), "lines"),
        "sources.bytes_per_poll": (smp("sources.bytes_per_poll"), "bytes"),
        "tail.polls": (smp("tail.polls"), "count"),
        "tail.backlog_end_lines": (smp("tail.backlog_end_lines"), "lines"),
        "tail.cycle_s": (smp("tail.cycle_s"), "s"),
        "tail.gen_late_ms_p99": (smp("tail.gen_late_ms_p99"), "ms"),
        "lumberjack.encode_us_per_event": (med["lumberjack.encode"] / CODEC_EVENTS * 1e6, "us"),
        "wire.publish_s": (med["lumberjack.publish"], "s"),
        "wire.bytes_on_wire": (smp("wire.bytes_on_wire"), "bytes"),
        "wire.windows": (smp("wire.windows"), "count"),
        "wire.receiver_busy_frac": (smp("wire.receiver_busy_frac"), "ratio"),
        "queries.sweep_s": (sum(med[f"q.{q}"] for q in SWEEP_QUERIES), "s"),
    }
    for q in SWEEP_QUERIES:
        out[f"q.{q}_s"] = (med[f"q.{q}"], "s")
    out.update(
        {
            "trace.latency_p50_s": (common["latency_p50_s"], "s"),
            "trace.blocking_self_frac": (lib.blocking_self_frac(spans, pass_span), "ratio"),
            "latency.samples": (common["samples"], "count"),
            "latency.tail_pct": (common["tail_pct"], "percentile"),
            "spark.session_start_s": (common["session_start_s"], "s"),
            "setup.warmup_s": (common["warmup_s"], "s"),
            "steal_frac": (common["steal_frac"], "ratio"),
            "host.calib_s": (common["host_calib_s"], "s"),
        }
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


# ---------------------------------------------------------------------------
# driver
# ---------------------------------------------------------------------------


def prepare_env(work: Path) -> None:
    for sub in ("spark-local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM (the launcher too) keeps its temp files and no perf data in
    # the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.pop("SPARK_GRAFT_PHASE_LOG", None)
    sys.path.insert(0, str(ROOT))
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def start_spark(work: Path):
    from logstash_forwarder_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and let its JVM exit. The JVM ends once its stdin
    closes, as it would when this process ends; closing it now lets
    ``lib.reap_descendants`` wait for it before the run returns."""
    jvm = spark.sparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()


def run(args) -> dict:
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    lib.become_subreaper()
    prepare_env(work)
    calib = [lib.host_calib_s()]
    rss = lib.PeakRss(os.getpid()).start()
    cpu0 = lib.cpu_times()
    spark = wl = None
    try:
        t = time.monotonic()
        spark = start_spark(work)
        session_start_s = time.monotonic() - t
        tracer = lib.Tracer(bool(args.trace), args.workload)
        ctx = Ctx(spark, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        # the first set-up also pays the session's first jobs; the median
        # of the repeats is the set-up time
        setups = []
        for _ in range(SETUP_REPEATS):
            t = time.monotonic()
            wl.setup()
            setups.append(time.monotonic() - t)
        tracer.enabled = False  # warm-up calls stay out of the spans
        t = time.monotonic()
        warm_passes = wl.warmup()
        warmup_s = time.monotonic() - t
        tracer.enabled = bool(args.trace)
        m = wl.measure(args.seconds)
        attempted, failed = m["attempted"], m["failed"]
        if ctx.traced:
            attempted += WIRE_EVENTS + len(SWEEP_QUERIES)
            failed += sweep(ctx, wl.sweep_lines(), wl.on_path)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        peak = rss.stop()
        killed = lib.reap_descendants(grace=30.0)
        if killed:
            print(f"perfbench: killed processes left after the run: {killed}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    calib.append(lib.host_calib_s())

    lat = m["latency"]
    tail_pct, tail = lib.tail_percentile(lat)
    common = {
        "latency_p50_s": statistics.median(lat),
        "samples": len(lat),
        "tail_pct": tail_pct,
        "session_start_s": session_start_s,
        "warmup_s": warmup_s,
        "steal_frac": lib.steal_frac(cpu0, lib.cpu_times()),
        "host_calib_s": statistics.mean(calib),
    }
    print(
        f"perfbench: {args.workload} seed {args.seed}: steal {common['steal_frac']:.3f}, "
        f"host calibration {[round(c, 3) for c in calib]} s, "
        f"setups {[round(s, 3) for s in setups]}, "
        f"warm-up passes {[round(w, 2) for w in warm_passes]} s, {len(lat)} latency samples, p{tail_pct} {tail:.3f}s"
        + (f": {[round(x, 3) for x in lat]}" if len(lat) < 20 else "")
        + f"; peak RSS MB by process {{{', '.join(f'{k} {v / 2**20:.0f}' for k, v in rss.at_peak.items())}}}",
        file=sys.stderr,
    )
    if ctx.traced:
        metrics = per_layer(ctx, wl.pass_span, common)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        path = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
        tracer.dump(str(path))
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "latency_p50_s": {"value": common["latency_p50_s"], "unit": "s"},
            "latency_tail_s": {"value": tail, "unit": "s"},
            "peak_rss_mb": {"value": peak / 2**20, "unit": "MB"},
        }
    return {
        "correct": not ctx.errors and failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: no {PKG} package under {ROOT}; run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
