"""Real process-kill resume test (VERDICT r1 #5).

The in-process fault injector (the ``crash_at_run_swap`` fixture,
tests/conftest.py) raises a Python exception in place of the run's
commit swap — it cannot crash INSIDE a file swap or leave a half-written
temp file. These tests do what spec/lumberjack_spec.rb:66-91 does to the
reference binary: run the CLI in a subprocess, SIGKILL the whole process
group mid-publish, resume in a fresh process, and assert exactly-once
delivery through the run manifests (no loss, no duplicates, lineage ==
data). Verification is DuckDB over the manifests, read with hive
partition discovery on; the growth-after-commit test also reads through
``read_table``.
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
    from the run manifests; ``run_id`` is the path's hive partition."""
    return dict(
        con.sql(
            "SELECT sink, sum(l.row_count) FROM (SELECT s.sink AS sink, "
            "unnest(s.lineage) AS l FROM (SELECT unnest(sinks) AS s "
            f"FROM read_json('{manifest_glob}') WHERE run_id = '{run_id}')) "
            "GROUP BY sink"
        ).fetchall()
    )


def _run_manifest(run_dir: str) -> dict:
    with open(os.path.join(run_dir, "_manifest.json")) as fh:
        return json.load(fh)


def _kill_when(cmd: list[str], env: dict, progress_globs: list[str]) -> bool:
    """Run ``cmd``; SIGKILL its process group as soon as any of
    ``progress_globs`` matches. Returns whether it was killed; a run that
    outraces the polls must have exited cleanly."""
    proc = subprocess.Popen(
        cmd,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # so killpg takes the JVM down too
        env=env,
    )
    killed = False
    deadline = time.monotonic() + 300
    while time.monotonic() < deadline and proc.poll() is None:
        if any(glob.glob(g) for g in progress_globs):
            os.killpg(proc.pid, signal.SIGKILL)
            killed = True
            break
        time.sleep(0.002)
    proc.wait(timeout=60)
    assert killed or proc.returncode == 0, "run neither progressed nor finished"
    return killed


def _env() -> dict:
    return {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}


def _kill_then_resume(out: str, run_id: str, kill_glob: str) -> None:
    """Run the CLI, SIGKILL its process group as soon as ``kill_glob``
    (relative to the run directory) or the run manifest matches, resume
    with the same run_id in a fresh process, then verify exactly-once
    delivery through the manifest. If the run outraces both polls, the
    resume checks must still hold."""
    run_dir = os.path.join(out, f"run_id={run_id}")
    manifest_glob = os.path.join(out, "run_id=*", "_manifest.json")
    env = _env()
    _kill_when(_cli(out, run_id), env, [os.path.join(run_dir, kill_glob), manifest_glob])
    committed_after_kill = os.path.exists(os.path.join(run_dir, "_manifest.json"))

    # resume with the SAME run_id in a fresh process
    res = subprocess.run(
        _cli(out, run_id), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    # the whole run is redone, or (committed before the kill) not touched
    assert summary["sinks_committed"] == ([] if committed_after_kill else SINKS)

    # read through the manifest — the protocol's only defined read path
    manifest_files: list[str] = []
    per_sink_manifest: dict[str, int] = {}
    for e in _run_manifest(run_dir)["sinks"]:
        s = e["sink"]
        per_sink_manifest[s] = e["row_count"]
        listed = [os.path.join(run_dir, f) for f in e["files"]]
        manifest_files += listed
        # after a COMPLETED resume no unreferenced files remain on disk
        d = os.path.join(run_dir, f"sink={s}")
        on_disk = sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
        )
        assert on_disk == sorted(listed), (s, on_disk, listed)
    assert sorted(per_sink_manifest) == SINKS

    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet({manifest_files!r})"
    ).fetchone()
    # exactly-once: no loss, no duplicates — regardless of where the kill hit
    assert n == N_ROWS and n_distinct == N_ROWS
    assert _lineage_per_sink(con, manifest_glob, run_id) == per_sink_manifest
    # whatever temp file the kill left behind, a JSON glob (DuckDB matches
    # dot-files) sees exactly one commit record
    (n_commit_files,) = con.sql(
        f"SELECT count(*) FROM glob('{os.path.join(out, 'run_id=*', '*.json')}')"
    ).fetchone()
    assert n_commit_files == 1


def test_sigkill_mid_publish_then_resume(tmp_path):
    # kill at the first data file landing in place (mid-write: files no
    # manifest names yet)
    _kill_then_resume(str(tmp_path / "out"), "killrun", os.path.join("sink=*", "*"))


def test_sigkill_manifest_mode_then_resume(tmp_path):
    # kill at the run's commit: the first swap's temp file (the manifest's)
    # or the manifest itself, so the run is either wholly uncommitted or
    # wholly committed, never partly
    _kill_then_resume(str(tmp_path / "outm"), "mkill", ".*.tmp")


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


def _write_logs(logs, lines_per_file: int, start: int = 0) -> int:
    """Append ``lines_per_file`` complete lines to each of 4 logs, each
    ending in a partial line that the next call completes."""
    logs.mkdir(exist_ok=True)
    for i in range(4):
        with open(logs / f"src_{i}.log", "a") as fh:
            if start:
                fh.write(" completed\n")
            for j in range(start, start + lines_per_file):
                fh.write(f"line {j} of src_{i} " + "tok " * (j % 13) + "\n")
            fh.write("partial, not yet shipped")
    return 4 * (lines_per_file + (1 if start else 0))


def test_sigkill_mid_tail_poll_then_resume(tmp_path):
    """The tail daemon's driver-local backend (a poll below
    textlog.DRIVER_HARVEST_BYTES): SIGKILL the CLI at its first data
    file or commit, restart it, and every complete line must be
    published exactly once. A poll killed before its swap left no
    visible state, so the restart re-harvests the same bytes under the
    same poll run_id; one killed after it resumes from its offsets."""
    logs = tmp_path / "logs"
    n_lines = _write_logs(logs, 5_000)
    out = str(tmp_path / "out")
    manifest_glob = os.path.join(out, "run_id=*", "_manifest.json")
    env = _env()
    _kill_when(
        _tail_cli(str(logs), out), env, [os.path.join(out, "run_id=*", "sink=*", "*"), manifest_glob]
    )

    res = subprocess.run(
        _tail_cli(str(logs), out), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    run_dirs = glob.glob(os.path.join(out, "run_id=tk-p*"))
    assert run_dirs == [os.path.join(out, "run_id=tk-p0")]
    m = _run_manifest(run_dirs[0])
    offsets = {e["file"]: e["resume_offset"] for e in m["tail"]["files"]}
    for i in range(4):
        p = str(logs / f"src_{i}.log")
        assert offsets[p] == os.path.getsize(p) - len("partial, not yet shipped")

    files, per_sink = [], {}
    for e in m["sinks"]:
        per_sink[e["sink"]] = e["row_count"]
        files += [os.path.join(run_dirs[0], f) for f in e["files"]]
    con = duckdb.connect()
    n, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet({files!r})"
    ).fetchone()
    assert n == n_lines and n_distinct == n_lines
    assert _lineage_per_sink(con, manifest_glob, "tk-p0") == per_sink
    (n_commit_files,) = con.sql(
        f"SELECT count(*) FROM glob('{os.path.join(out, 'run_id=*', '*.json')}')"
    ).fetchone()
    assert n_commit_files == 1


def test_sigkill_after_tail_commit_then_growth(spark, tmp_path):
    """The replay window a tail daemon with its offsets outside the commit
    has: SIGKILL the CLI once its poll's run manifest exists, append
    growth, restart. The offsets committed with the lines, so the restart
    ships only the growth, and a plain ``read_table`` holds every
    complete line exactly once."""
    from logstash_forwarder_spark.pipeline import read_table

    logs = tmp_path / "logs"
    n_lines = _write_logs(logs, 2_000)
    out = str(tmp_path / "out")
    env = _env()
    _kill_when(
        _tail_cli(str(logs), out), env, [os.path.join(out, "run_id=*", "_manifest.json")]
    )
    assert os.path.exists(os.path.join(out, "run_id=tk-p0", "_manifest.json"))
    n_lines += _write_logs(logs, 500, start=2_000)

    res = subprocess.run(
        _tail_cli(str(logs), out), capture_output=True, text=True, timeout=300, env=env
    )
    assert res.returncode == 0, res.stderr[-2000:]
    poll = json.loads([ln for ln in res.stdout.splitlines() if ln.startswith("{")][0])
    assert poll["run_id"] == "tk-p1" and poll["new_lines"] == 4 * 501
    df = read_table(spark, out)
    n, n_distinct = df.selectExpr("count(*)", "count(DISTINCT doc_id)").first()
    assert n == n_lines and n_distinct == n_lines
