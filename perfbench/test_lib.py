"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import lib  # noqa: E402

# ---------------------------------------------------------------------------
# percentile with at least 10 samples beyond it
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(10_000, 99.9), (1_000, 99.0), (9_999, 99.0), (100, 90.0), (20, 50.0)],
)
def test_tail_percentile_picks_highest_with_ten_beyond(n, pct):
    values = [float(i) for i in range(1, n + 1)]
    got_pct, got = lib.tail_percentile(values)
    assert got_pct == pct
    rank = values.index(got) + 1
    assert n - rank >= 10
    assert got == lib.nearest_rank(values, pct)


def test_tail_percentile_too_few_samples_is_max():
    assert lib.tail_percentile([3.0, 1.0, 2.0]) == (100.0, 3.0)
    # 19 samples: the median has only 9 above it
    assert lib.tail_percentile([float(i) for i in range(19)]) == (100.0, 18.0)


def test_tail_percentile_order_insensitive():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 40
    assert lib.tail_percentile(values) == lib.tail_percentile(sorted(values))


def test_quartile_spread():
    assert lib.quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert lib.quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(
        (10.75 - 9.25) / 10.0
    )


# ---------------------------------------------------------------------------
# generator ledger joined to committed offsets
# ---------------------------------------------------------------------------

LEDGER = [
    {"due": 0.0, "late": 0.0, "files": {"a": [10, 20], "b": [5]}},
    {"due": 0.1, "late": 0.0, "files": {"a": [30], "b": [12, 19]}},
]


def test_line_latencies_first_covering_commit():
    commits = [
        (1.0, {"a": 20, "b": 5}),  # covers the first tick
        (2.0, {"a": 30, "b": 12}),  # a:30 and b:12
        (3.0, {"a": 30, "b": 19}),  # b:19
    ]
    lat, missing = lib.line_latencies(LEDGER, commits)
    assert missing == 0
    assert sorted(lat) == pytest.approx(sorted([1.0, 1.0, 1.0, 1.9, 1.9, 2.9]))


def test_line_latencies_partial_commit_and_missing():
    # a commit in the middle of a line's bytes does not cover it; lines past
    # the last commit are reported missing
    commits = [(1.0, {"a": 15}), (2.0, {"a": 20, "b": 12})]
    lat, missing = lib.line_latencies(LEDGER, commits)
    assert sorted(lat) == pytest.approx([1.0, 1.9, 2.0, 2.0])
    assert missing == 2  # a:30, b:19


def test_line_latencies_ignores_non_advancing_commits():
    commits = [(1.0, {"a": 10}), (1.5, {"a": 10}), (2.0, {"a": 30, "b": 19})]
    lat, missing = lib.line_latencies(LEDGER, commits)
    assert missing == 0
    assert lat.count(1.0) == 1  # a:10 covered by the first commit only


def test_lines_committed_by():
    commits = [(1.0, {"a": 20, "b": 5}), (2.0, {"a": 30, "b": 19})]
    assert lib.lines_committed_by(LEDGER, commits, 0.5) == 0
    assert lib.lines_committed_by(LEDGER, commits, 1.0) == 3
    assert lib.lines_committed_by(LEDGER, commits, 9.0) == 6


# ---------------------------------------------------------------------------
# receiver window and ack accounting
# ---------------------------------------------------------------------------


def _payload(events, first_seq=1):
    from logstash_forwarder_spark.operators.lumberjack import (
        encode_data_frame,
        encode_payload,
    )

    frames = [
        encode_data_frame(first_seq + i, [("file", "f"), ("offset", o), ("line", ln)])
        for i, (o, ln) in enumerate(events)
    ]
    return encode_payload(frames)


def test_receiver_acks_each_window_with_highest_sequence():
    ev1 = [("0", "alpha"), ("6", "beta"), ("11", "gamma")]
    ev2 = [("17", "delta"), ("23", "é unicode")]
    st = lib.ReceiverState()
    acks = st.feed(_payload(ev1))
    assert acks == [b"1A\x00\x00\x00\x03"]
    acks = st.feed(_payload(ev2, first_seq=4))
    assert acks == [b"1A\x00\x00\x00\x05"]
    assert (st.events, st.windows, st.acks, st.top_seq) == (5, 2, 2, 5)
    assert st.checksum == lib.checksum(ev1 + ev2)


def test_receiver_handles_split_reads():
    events = [(str(i * 10), f"line {i}") for i in range(50)]
    data = _payload(events)
    st = lib.ReceiverState()
    acks = []
    for i in range(len(data)):  # one byte at a time
        acks += st.feed(data[i : i + 1])
    assert acks == [b"1A" + (50).to_bytes(4, "big")]
    assert st.events == 50
    assert st.bytes == len(data)
    assert st.checksum == lib.checksum(events)


def test_receiver_no_ack_before_window_complete():
    data = _payload([("0", "a"), ("2", "b")])
    st = lib.ReceiverState()
    assert st.feed(data[:-3]) == []
    assert st.events == 0
    assert st.feed(data[-3:]) == [b"1A\x00\x00\x00\x02"]


def test_receiver_rejects_bad_version():
    with pytest.raises(ValueError):
        lib.ReceiverState().feed(b"2W\x00\x00\x00\x01")


def test_checksum_is_order_insensitive_and_content_sensitive():
    ev = [("0", "a"), ("2", "b"), ("4", "c")]
    assert lib.checksum(ev) == lib.checksum(list(reversed(ev)))
    assert lib.checksum(ev) != lib.checksum([("0", "a"), ("2", "b"), ("4", "d")])
    assert lib.checksum(ev) != lib.checksum(ev + [("0", "a")])  # a duplicate shows


# ---------------------------------------------------------------------------
# batch_ship oracle comparison
# ---------------------------------------------------------------------------


def test_compare_sink_metrics():
    want = {("s1", "a"): (3, 30, 12), ("s2", "b"): (1, 0, 0)}
    assert lib.compare_sink_metrics(dict(want), want) == []
    got = {("s1", "a"): (3, 31, 12)}
    diffs = lib.compare_sink_metrics(got, want)
    assert len(diffs) == 2
    assert "('s1', 'a')" in diffs[0] and "(3, 31, 12)" in diffs[0]
    assert "None" in diffs[1]


def test_route_case_sql_first_match_wins():
    duckdb = pytest.importorskip("duckdb")
    routes = [
        (3, "true", "sink_default"),
        (0, "t = 'syslog' AND n_tok > 16", "sink_syslog"),
        (2, "env = 'dev' OR n_tok = 0", "sink_dev"),
        (1, "t = 'apache'", "sink_apache"),
    ]
    rows = duckdb.sql(
        f"""
        SELECT {lib.route_case_sql(routes)} FROM (VALUES
          ('syslog', 'dev', 20), ('syslog', 'prod', 3), ('apache', 'dev', 0),
          (NULL, NULL, 0), (NULL, NULL, 5)) v(t, env, n_tok)
        """
    ).fetchall()
    assert [r[0] for r in rows] == [
        "sink_syslog", "sink_default", "sink_apache", "sink_dev", "sink_default"
    ]


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


def _span(i, name, parent, start, end, pass_id="p0"):
    return {"id": i, "name": name, "parent": parent, "pass": pass_id,
            "workload": "w", "start": start, "end": end}


def test_self_times_subtract_children_union():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "a", 0, 1.0, 4.0),
        _span(2, "b", 0, 3.0, 6.0),  # overlaps a: union is 1..6
        _span(3, "c", 2, 3.0, 4.0),
    ]
    st = lib.self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_blocking_self_frac_and_span_medians():
    spans = [
        _span(0, "pass", None, 0.0, 10.0),
        _span(1, "step", 0, 0.0, 9.0),
        _span(2, "pass", None, 10.0, 14.0, "p1"),
        _span(3, "step", 2, 10.0, 14.0, "p1"),
        _span(4, "step", None, 20.0, 21.0, "sweep"),
        _span(5, "probe", None, 30.0, 32.0, "sweep"),
    ]
    assert lib.blocking_self_frac(spans, "pass") == pytest.approx(0.95)
    med = lib.span_medians(spans)
    assert med["step"] == pytest.approx(6.5)  # sweep span ignored
    assert med["probe"] == pytest.approx(2.0)  # only the sweep measured it


def test_tree_rss_includes_children():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        rss = lib.tree_rss(os.getpid())
    finally:
        child.kill()
        child.wait()
    assert rss[os.getpid()] > 0
    assert child.pid in rss


def test_reap_descendants_waits_for_orphans():
    """An orphaned grandchild (a worker whose parent has exited) is still
    found, killed after the grace period and reaped. Runs in a process of
    its own: the subreaper flag would outlive the test."""
    import json
    import subprocess

    script = f"""
import json, os, subprocess, sys, time
sys.path.insert(0, {HERE!r})
import lib
lib.become_subreaper()
# a child that starts a long sleeper and exits at once, orphaning it
subprocess.run([sys.executable, "-c",
    "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
    "'import time; time.sleep(60)'])"], check=True)
orphans = lib.descendants(os.getpid())
killed = lib.reap_descendants(grace=0.5)
print(json.dumps([len(orphans), killed, lib.descendants(os.getpid())]))
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60, check=True
    )
    n_orphans, killed, left = json.loads(out.stdout.strip().splitlines()[-1])
    assert n_orphans == 1
    assert len(killed) == 1
    assert left == []


def test_tracer_disabled_records_nothing():
    tr = lib.Tracer(False, "w")
    with tr.span("x", "p0"):
        pass
    assert tr.spans == []
    tr = lib.Tracer(True, "w")
    with tr.span("outer", "p0"):
        with tr.span("inner", "p0"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
