#!/usr/bin/env python3
"""Traced-run report: per-layer self time and counts, and tracing overhead.

    python3 perfbench/report.py                      # every workload, seed 1
    python3 perfbench/report.py --workload lifecycle --seed 3
    python3 perfbench/report.py --reuse              # read perfbench/.out only

For each workload it runs run.py twice, end-to-end (`--trace 0`) then
traced (`--trace 1`), and prints:

- per layer: spans in the timed passes, their summed duration, their self
  time (duration minus child spans; for `spark`, the wall time covered by
  Spark spans) and that self time as a share of the traced pass wall;
- every per-layer metric with its unit;
- tracing overhead: traced pass wall minus end-to-end pass wall, with both.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _run(workload: str, seed: int, seconds: float, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, cwd=os.path.dirname(HERE), check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)


def _load(workload: str, seed: int, trace: int) -> dict:
    with open(os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def report(workload: str, seed: int) -> None:
    import spans as sp

    plain, traced = _load(workload, seed, 0), _load(workload, seed, 1)
    with open(os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace1.spans.json")) as fh:
        spans = json.load(fh)
    windows = [(p["start"], p["end"]) for p in traced["passes"]]
    in_pass = [s for s in spans if any(lo <= s["start"] and s["end"] <= hi for lo, hi in windows)]
    selft = sp.self_times(spans)
    wall = traced["metrics"]["trace.pass_wall_s"]
    n = len(windows)
    print(f"\n== {workload} (seed {seed}; {n} traced pass(es); traced pass wall {wall:.3f} s)")
    print(f"{'layer':22s} {'spans':>6s} {'total_s':>9s} {'self_s':>9s}  self / traced pass wall")
    layers = sorted({s["layer"] for s in spans})
    for layer in layers:
        mine = [s for s in in_pass if s["layer"] == layer]
        total = sum(s["end"] - s["start"] for s in mine) / max(n, 1)
        key = f"self.{layer}_s"
        own = traced["metrics"].get(key, sum(selft[s["id"]] for s in mine) / max(n, 1))
        if layer == "session":  # session work is set-up, outside the passes
            print(f"{layer:22s} {'-':>6s} {'-':>9s} {own:9.3f}  whole run, not per pass")
            continue
        print(f"{layer:22s} {len(mine):6d} {total:9.3f} {own:9.3f}  "
              f"{100 * own / wall:5.1f}% of {wall:.3f} s")
    print("\nper-layer metrics (per pass unless per call):")
    from layers import _unit

    for k, v in traced["metrics"].items():
        print(f"  {k:42s} {v:14.6g} {_unit(k)}")
    base = plain["metrics"]["pass_wall_s"]
    print(f"\ntracing overhead: {wall - base:+.3f} s = traced pass wall {wall:.3f} s "
          f"- end-to-end pass wall {base:.3f} s ({100 * (wall - base) / base:+.1f}% of {base:.3f} s)")
    print("end-to-end: " + ", ".join(f"{k}={v:.4g}" for k, v in plain["metrics"].items()))
    fails = plain["failures"] + traced["failures"]
    print(f"failures: {len(fails)}" + "".join(f"\n  {f}" for f in fails))


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--reuse", action="store_true", help="report existing records, run nothing")
    args = ap.parse_args()
    for w in args.workload or list(WORKLOADS):
        if not args.reuse:
            _run(w, args.seed, args.seconds, 0)
            _run(w, args.seed, args.seconds, 1)
        report(w, args.seed)
    return 0


if __name__ == "__main__":
    sys.exit(main())
