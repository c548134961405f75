"""Traced-run report: per-layer self time and counts, plus tracing overhead.

    python3 perfbench/report.py [--seed 1] [--seconds 10] [workload ...]

For each workload (default: all) this runs the benchmark twice in fresh
processes, untraced and traced, and prints the traced run's per-layer
table for its last measured pass, then the overhead of tracing: traced
pass_s minus untraced pass_s.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} --trace {trace} exited {proc.returncode}")
    *_, context, result = proc.stdout.strip().splitlines()
    return json.loads(context)["context"], json.loads(result)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    for wl in args.workloads:
        _, plain = _run(wl, args.seed, args.seconds, 0)
        ctx, traced = _run(wl, args.seed, args.seconds, 1)
        print(f"\n== {wl} (seed {args.seed}; correct={traced['correct']}, "
              f"{traced['failed']}/{traced['attempted']} failed)")
        print(f"{'span':26s} {'self_s':>8s} {'calls':>6s} {'jobs':>5s} {'stages':>6s} "
              f"{'tasks':>6s} {'written_B':>10s} {'shuffle_B':>10s}")
        for name, row in sorted(ctx["layers"].items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{name:26s} {row['self_s']:8.3f} {row['calls']:6d} {row['jobs']:5d} "
                  f"{row['stages']:6d} {row['tasks']:6d} {row['bytes_written']:10d} "
                  f"{row['shuffle_write_bytes']:10d}")
        for name, m in traced["metrics"].items():
            if m["unit"] != "s" and m["value"]:
                print(f"  {name} = {m['value']:g} {m['unit']}")
        untraced_s = plain["metrics"]["pass_s"]["value"]
        traced_s = traced["metrics"]["trace.pass_s"]["value"]
        print(f"tracing overhead: {traced_s - untraced_s:+.3f} s per pass "
              f"(traced {traced_s:.3f} s, untraced {untraced_s:.3f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
