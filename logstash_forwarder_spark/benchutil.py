"""Benchmark utilities: CPU-steal-aware timing.

This sandbox VM shows heavy, bursty hypervisor CPU steal (observed: ~97 s
stolen during a 100 s window), which can inflate any single wall-clock
measurement several-fold. Honest protocol: run N trials, report each with
its steal fraction, and use the minimum (the least-contended observation —
the standard estimator under external interference).
"""

from __future__ import annotations

import time
from collections.abc import Callable


def read_steal_jiffies() -> int:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(parts[8]) if len(parts) > 8 else 0


def timed_trials(
    fn: Callable[[], None],
    n_trials: int = 3,
    *,
    steal_gate: float | None = 0.02,
    max_attempts: int | None = None,
    cores_used: int | None = None,
    agree: float | None = None,
) -> list[dict]:
    """Run fn n times; per trial capture wall seconds + steal fraction
    (stolen CPU-seconds / (wall * ncpus)).

    Steal bursts stall the whole VM (all vCPUs pause together), so a sample
    taken during one measures the host, not the code. With ``steal_gate``,
    keep sampling (up to ``max_attempts``, default 3×n) until ``n_trials``
    quiet samples are collected; noisy samples are still recorded (marked
    ``gated``) for transparency.

    ``agree`` adds a CONSENSUS requirement: keep sampling until the two
    fastest quiet samples are within that relative tolerance of each other.
    The steal counter only sees hypervisor preemption — round 2 recorded
    two "quiet" (<2% steal) e2e trials 2.2× apart (117 s vs 54 s), so
    low-steal alone does not certify an uncontended run; two independent
    samples agreeing does.
    """
    import os

    ncpus = os.cpu_count() or 1
    hz = 100  # USER_HZ
    out: list[dict] = []
    attempts = 0
    cap = max_attempts if max_attempts is not None else 3 * n_trials

    def satisfied() -> bool:
        quiet_secs = sorted(t["sec"] for t in out if not t.get("gated"))
        if len(quiet_secs) < n_trials:
            return False
        if agree is None or len(quiet_secs) < 2:
            return True
        return quiet_secs[1] <= quiet_secs[0] * (1.0 + agree)

    while not satisfied() and attempts < cap:
        attempts += 1
        s0 = read_steal_jiffies()
        t0 = time.monotonic()
        fn()
        wall = time.monotonic() - t0
        stolen = (read_steal_jiffies() - s0) / hz
        # normalize by the cores the JOB uses, not the whole box: a local[2]
        # run losing 17 CPU-s to steal lost ~11% of its compute even though
        # that is <1% of 32 vCPUs (idle vCPUs accrue almost no steal)
        denom_cores = cores_used or ncpus
        frac = round(stolen / (wall * denom_cores), 3) if wall else 0.0
        rec = {
            "sec": round(wall, 2),
            "steal_cpu_sec": round(stolen, 1),
            "steal_frac": frac,
        }
        if steal_gate is not None and frac > steal_gate:
            rec["gated"] = True
        out.append(rec)
    if not satisfied():
        # attempt cap hit without consensus/quota: the minimum is a noisy
        # sample, not a certified figure — mark every record so callers
        # (bench.py) can surface it instead of reporting it as consensus
        # (ADVICE r3)
        for rec in out:
            rec["consensus"] = False
    return out


def best(trials: list[dict]) -> dict:
    return min(trials, key=lambda t: t["sec"])


def consensus_over(
    trials: list[dict], n_trials: int = 2, agree: float = 0.2
) -> bool:
    """The timed_trials certification predicate over an ACCUMULATED trial
    list (e.g. several retry blocks concatenated): at least ``n_trials``
    un-gated samples whose two fastest agree within ``agree``. Lets a
    caller keep retrying across steal storms that outlast one block's
    attempt cap (CLAUDE.md round-4) and certify on the combined evidence."""
    quiet = sorted(t["sec"] for t in trials if not t.get("gated"))
    if len(quiet) < n_trials:
        return False
    return n_trials < 2 or quiet[1] <= quiet[0] * (1.0 + agree)
