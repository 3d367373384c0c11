"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload query --seeds 1 2 3 4 5 \\
        [--seconds 5] [--trace-overhead]

For every end-to-end metric it prints the median over the runs and the
distance between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``).  With ``--trace-overhead``
each seed also runs traced, and the median traced-minus-untraced
difference of each end-to-end metric is printed as a share of the
untraced median.  Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; returns its result line and, traced, the
    end-to-end numbers it printed on stderr."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)], capture_output=True, text=True,
        check=True)
    result = json.loads(p.stdout.strip().splitlines()[-1])
    for line in reversed(p.stderr.splitlines()):
        if line.startswith('{"setup"'):
            result["stderr_end_to_end"] = json.loads(line)["end_to_end"]
            break
    return result


def main() -> None:
    from perfbench.stats import iqr_share

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace-overhead", action="store_true")
    a = ap.parse_args()
    plain, traced = [], []
    for seed in a.seeds:
        plain.append(_run(a.workload, seed, a.seconds, 0))
        if a.trace_overhead:
            traced.append(_run(a.workload, seed, a.seconds, 1))
    bad = [r for r in plain if not r["correct"]]
    print(f"{a.workload}: {len(plain)} runs, {len(bad)} with failures")
    for name in plain[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in plain]
        med = statistics.median(vals)
        line = (f"  {name:16s} median {med:10.4f}  "
                f"iqr/median {iqr_share(vals):.4f}")
        if traced:
            tv = [r["stderr_end_to_end"][name][0] for r in traced]
            line += f"  traced-untraced {(statistics.median(tv) - med) / med:+.4f}"
        print(line)


if __name__ == "__main__":
    sys.path[0] = os.getcwd()  # the checkout, not this directory
    main()
