"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/steadiness.py --workloads batch_ship tail_follow \
        --seeds 1 2 3 4 5 6 7 8 9 10 [--out FILE]

The spread of a metric is the distance between the first and third
quartile of its per-seed values as a share of their median; every
end-to-end metric's spread must stay within its bound in BENCHMARK.json.
Each run's result line is appended to ``--out`` (JSON lines) as it ends.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import lib  # noqa: E402


def main(argv: list[str]) -> int:
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", nargs="+", type=int, default=list(range(1, 11)))
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        walls = []
        for seed in args.seeds:
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", str(seed),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=HERE.parent, capture_output=True, text=True, timeout=600,
            )
            walls.append(time.monotonic() - t0)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            if args.out:
                with open(args.out, "a") as fh:
                    notes = [ln for ln in proc.stderr.splitlines() if ln.startswith("perfbench:")]
                    fh.write(json.dumps({"workload": wl, "seed": seed, "rc": proc.returncode,
                                         "wall_s": walls[-1], "notes": notes,
                                         "result": res}) + "\n")
            if proc.returncode != 0 or not res or not res["correct"]:
                print(f"{wl} seed {seed}: FAILED (exit {proc.returncode})\n{proc.stderr[-2000:]}")
                ok = False
                continue
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        print(f"{wl}: {len(walls)} runs, wall median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
        for name, vals in values.items():
            if len(vals) < 2:
                continue
            spread = lib.quartile_spread(vals)
            bound = bounds.get(name)
            note = "" if bound is None else f"  bound {bound}  {'ok' if spread <= bound else 'OVER'}"
            print(f"  {name:34s} median {statistics.median(vals):14.4f}  spread {spread:.4f}{note}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
