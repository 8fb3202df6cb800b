"""Steadiness command: run one workload n times in fresh processes.

    python3 perfbench/steady.py --workload tebis_backfill --runs 10 --seconds 10

Seeds are ``--first-seed`` .. ``--first-seed + runs - 1``. For each
metric it prints the median, the quartiles (``statistics.quantiles(n=4)``),
the minimum and maximum across runs, and the spread: (q3 - q1) / median.
Runs are untraced (``--trace 0``), so the metrics are the end-to-end
ones. It also prints each run's failed/attempted share, and exits
non-zero when a run fails or reports ``correct: false``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args()

    results, ok = [], True
    for i in range(args.runs):
        seed = args.first_seed + i
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(RUN), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", "0"],
            capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            ok = False
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res["wall_s"] = wall
        ok &= res["correct"]
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s, failed {res['failed']}/{res['attempted']}",
              file=sys.stderr, flush=True)
    if len(results) < 2:
        return 1

    print(f"{args.workload}: {len(results)} runs, --seconds {args.seconds}, "
          f"run wall median "
          f"{statistics.median(r['wall_s'] for r in results):.1f} s")
    shares = sorted({f"{r['failed']}/{r['attempted']}" for r in results})
    print(f"failed/attempted: {', '.join(shares)}")
    print(f"{'metric':<48} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'min':>12} {'max':>12} {'spread':>7}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:<48} {med:12.5g} {q1:12.5g} {q3:12.5g} "
              f"{min(vals):12.5g} {max(vals):12.5g} {spread:7.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
