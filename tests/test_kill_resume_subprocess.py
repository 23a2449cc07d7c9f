"""Real process-kill resume test (VERDICT r1 #5).

The in-process fault injector (PipelineSpec.fail_after_sinks) raises a
Python exception — it cannot crash INSIDE os.replace or leave a half-written
checkpoint tmp file. This test does what spec/lumberjack_spec.rb:66-91 does
to the reference binary: run the CLI in a subprocess, SIGKILL the whole
process group mid-publish, resume with the same run_id in a fresh process,
and assert exactly-once delivery through the manifests (no loss, no
duplicates, lineage == data).
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


def _kill_then_resume(out: str, run_id: str, kill_glob: str) -> None:
    """Run the CLI, SIGKILL its process group as soon as ``kill_glob``
    (relative to the run directory) or the first checkpoint matches, resume
    with the same run_id in a fresh process, then verify exactly-once
    delivery through the manifests. If the run outraces both polls, the
    resume checks must still hold."""
    run_dir = os.path.join(out, f"run_id={run_id}")
    ckpt_glob = os.path.join(out, "_checkpoint", "*.parquet")
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(__file__))}

    proc = subprocess.Popen(
        _cli(out, run_id),
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # so killpg takes the JVM down too
        env=env,
    )
    progress_globs = [os.path.join(run_dir, kill_glob), ckpt_glob]
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
    committed_after_kill = len(glob.glob(ckpt_glob))

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
    lineage = dict(
        con.sql(
            f"SELECT sink, sum(row_count) FROM read_parquet('{ckpt_glob}') "
            f"WHERE run_id = '{run_id}' GROUP BY sink"
        ).fetchall()
    )
    for s in SINKS:
        assert lineage.get(s, 0) == per_sink_manifest[s], (s, lineage, per_sink_manifest)
    # no stale lineage staging survives a completed resume
    assert not os.path.exists(os.path.join(run_dir, "_lineage_staging"))


def test_sigkill_mid_publish_then_resume(tmp_path):
    # kill at the first data file landing in place (mid-write: files no
    # manifest names yet)
    _kill_then_resume(str(tmp_path / "out"), "killrun", os.path.join("sink=*", "*"))


def test_sigkill_manifest_mode_then_resume(tmp_path):
    # kill at the first manifest swap: a sink published but not yet
    # checkpointed, so resume must recognise it from the manifest alone
    _kill_then_resume(str(tmp_path / "outm"), "mkill", os.path.join("_manifests", "*.json"))
