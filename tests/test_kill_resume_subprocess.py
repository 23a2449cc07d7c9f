"""Real process-kill resume test (VERDICT r1 #5).

The in-process fault injector (the ``crash_after_commits`` fixture,
tests/conftest.py) raises a Python exception between two commits — it
cannot crash INSIDE a file swap or leave a half-written temp file. This
test does what spec/lumberjack_spec.rb:66-91 does to the reference binary:
run the CLI in a subprocess, SIGKILL the whole process group mid-publish,
resume with the same run_id in a fresh process, and assert exactly-once
delivery through the manifests (no loss, no duplicates, lineage == data).
Verification is pure DuckDB — no Spark session in the test process.
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import time

import duckdb

N_ROWS = 30_000
SINKS = ["sink_apache", "sink_default", "sink_dev", "sink_syslog"]


def _cli(out_dir: str, run_id: str) -> list[str]:
    return [
        sys.executable,
        "-m",
        "logstash_forwarder_spark.run",
        "--gen",
        str(N_ROWS),
        "--out",
        out_dir,
        "--run-id",
        run_id,
        "--master",
        "local[2]",
        "--shuffle-partitions",
        "4",
    ]


def _lineage_per_sink(con, manifest_glob: str, run_id: str) -> dict[str, int]:
    """Σ lineage row_count per sink of ``run_id``, read by DuckDB straight
    from the commit records (hive partitioning off: a ``sink=S.json``
    name would otherwise shadow the manifest's own ``sink``)."""
    return dict(
        con.sql(
            "SELECT sink, sum(l.row_count) FROM (SELECT sink, unnest(lineage) AS l "
            f"FROM read_json('{manifest_glob}', filename=true, "
            "hive_partitioning=false) "
            f"WHERE filename LIKE '%/run_id={run_id}/%') GROUP BY sink"
        ).fetchall()
    )


def _kill_then_resume(out: str, run_id: str, kill_glob: str) -> None:
    """Run the CLI, SIGKILL its process group as soon as ``kill_glob``
    (relative to the run directory) or the first commit matches, resume
    with the same run_id in a fresh process, then verify exactly-once
    delivery through the manifests. If the run outraces both polls, the
    resume checks must still hold."""
    run_dir = os.path.join(out, f"run_id={run_id}")
    manifest_glob = os.path.join(out, "run_id=*", "_manifests", "*.json")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}

    proc = subprocess.Popen(
        _cli(out, run_id),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # so killpg takes the JVM down too
        env=env,
    )
    progress_globs = [os.path.join(run_dir, kill_glob), manifest_glob]
    killed = False
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline and proc.poll() is None:
        if any(glob.glob(g) for g in progress_globs):
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.005)
    proc.wait(timeout=60)
    assert killed or proc.returncode == 0, "run neither progressed nor finished"
    committed_after_kill = len(glob.glob(manifest_glob))

    # resume with the SAME run_id in a fresh process
    res = subprocess.run(
        _cli(out, run_id), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert sorted(summary["sinks_committed"] + summary["sinks_skipped"]) == SINKS
    if killed and committed_after_kill < len(SINKS):
        assert summary["sinks_committed"], "resume had work but did none"

    # read through the manifests — the protocol's only defined read path
    manifest_files: list[str] = []
    per_sink_manifest: dict[str, int] = {}
    for s in SINKS:
        with open(os.path.join(run_dir, "_manifests", f"sink={s}.json")) as fh:
            m = json.load(fh)
        per_sink_manifest[s] = m["row_count"]
        listed = [os.path.join(run_dir, f) for f in m["files"]]
        manifest_files += listed
        # after a COMPLETED resume no unreferenced files remain on disk
        d = os.path.join(run_dir, f"sink={s}")
        on_disk = (
            sorted(
                os.path.join(d, f)
                for f in os.listdir(d)
                if f.endswith(".parquet")
            )
            if os.path.isdir(d)
            else []
        )
        assert on_disk == sorted(listed), (s, on_disk, listed)

    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet({manifest_files!r})"
    ).fetchone()
    # exactly-once: no loss, no duplicates — regardless of where the kill hit
    assert n == N_ROWS and n_distinct == N_ROWS
    lineage = _lineage_per_sink(con, manifest_glob, run_id)
    for s in SINKS:
        assert lineage.get(s, 0) == per_sink_manifest[s], (s, lineage, per_sink_manifest)
    # whatever temp file the kill left behind, the manifest glob (DuckDB
    # matches dot-files) sees exactly one commit record per sink of the run
    (n_commit_files,) = con.sql(
        f"SELECT count(*) FROM glob('{manifest_glob}')"
    ).fetchone()
    assert n_commit_files == len(SINKS)


def test_sigkill_mid_publish_then_resume(tmp_path):
    # kill at the first data file landing in place (mid-write: files no
    # manifest names yet)
    _kill_then_resume(str(tmp_path / "out"), "killrun", os.path.join("sink=*", "*"))


def test_sigkill_manifest_mode_then_resume(tmp_path):
    # kill at the first manifest swap: some sinks committed, the rest not,
    # so resume must skip exactly the ones whose manifest landed
    _kill_then_resume(str(tmp_path / "outm"), "mkill", os.path.join("_manifests", "*.json"))


def _tail_cli(logs: str, out_dir: str) -> list[str]:
    return [
        sys.executable,
        "-m",
        "logstash_forwarder_spark.run",
        "--tail-glob",
        os.path.join(logs, "*.log"),
        "--polls",
        "1",
        "--out",
        out_dir,
        "--run-id",
        "tk",
        "--master",
        "local[2]",
        "--shuffle-partitions",
        "4",
    ]


def test_sigkill_mid_tail_poll_then_resume(tmp_path):
    """The tail daemon's driver-local backend (a poll below
    textlog.DRIVER_HARVEST_BYTES): SIGKILL the CLI at its first data
    file or commit, restart it, and every complete line must be
    published exactly once. The killed poll wrote no state, so the
    restart re-harvests the same bytes under the same poll run_id and
    the registrar skips the sinks that committed."""
    logs = tmp_path / "logs"
    logs.mkdir()
    n_lines = 0
    for i in range(4):
        with open(logs / f"src_{i}.log", "w") as fh:
            for j in range(5_000):
                fh.write(f"line {j} of src_{i} " + "tok " * (j % 13) + "\n")
                n_lines += 1
            fh.write("partial, never shipped")
    out = str(tmp_path / "out")
    manifest_glob = os.path.join(out, "run_id=*", "_manifests", "*.json")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}

    proc = subprocess.Popen(
        _tail_cli(str(logs), out),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,
        env=env,
    )
    progress = [os.path.join(out, "run_id=*", "sink=*", "*"), manifest_glob]
    killed = False
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline and proc.poll() is None:
        if any(glob.glob(g) for g in progress):
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.002)
    proc.wait(timeout=60)
    assert killed or proc.returncode == 0, "run neither progressed nor finished"

    res = subprocess.run(
        _tail_cli(str(logs), out), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    with open(os.path.join(out, "_tailstate.json")) as fh:
        state = json.load(fh)
    for i in range(4):
        p = str(logs / f"src_{i}.log")
        assert state[p][0] == os.path.getsize(p) - len("partial, never shipped")

    run_dirs = glob.glob(os.path.join(out, "run_id=tk-p*"))
    assert len(run_dirs) == 1  # the restart replayed the killed poll's id
    files, per_sink = [], {}
    for s in SINKS:
        with open(os.path.join(run_dirs[0], "_manifests", f"sink={s}.json")) as fh:
            m = json.load(fh)
        per_sink[s] = m["row_count"]
        files += [os.path.join(run_dirs[0], f) for f in m["files"]]
    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet({files!r})"
    ).fetchone()
    assert n == n_lines and n_distinct == n_lines
    run_id = os.path.basename(run_dirs[0])[len("run_id=") :]
    lineage = _lineage_per_sink(con, manifest_glob, run_id)
    # an empty sink's commit record carries no lineage row
    assert lineage == {s: n for s, n in per_sink.items() if n}
    (n_commit_files,) = con.sql(
        f"SELECT count(*) FROM glob('{manifest_glob}')"
    ).fetchone()
    assert n_commit_files == len(SINKS)
