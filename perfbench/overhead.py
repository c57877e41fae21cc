#!/usr/bin/env python3
"""Tracing overhead: run one workload with tracing off and on, same seed,
and print the gap on every end-to-end figure.

    python3 perfbench/overhead.py --workload corpus_dedup --seed 1 --seconds 5

Both runs print a ``report`` line holding the end-to-end figures (the
traced run computes them too, it just does not emit them as its
metrics); the gap is (traced - untraced) / untraced.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def report(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True, timeout=600,
    ).stdout
    line = next(ln for ln in out.splitlines() if ln.startswith("report "))
    return json.loads(line[len("report "):])["end_to_end"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    args = ap.parse_args()
    off = report(args.workload, args.seed, args.seconds, 0)
    on = report(args.workload, args.seed, args.seconds, 1)
    gaps = {k: {"untraced": off[k], "traced": on[k], "gap": (on[k] - off[k]) / off[k]} for k in off}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tracing_overhead": gaps}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
