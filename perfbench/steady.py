"""Run one workload on seeds 1 to 10 and report, per end-to-end metric,
the median and the spread (quartile distance over the median) against
the bound ``BENCHMARK.json`` sets, with each run's wall time.

    python3 perfbench/steady.py --workload catalog-batch

Run it from the repository root; the runs are sequential.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEEDS = range(1, 11)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile over the median."""
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {}
    for seed in SEEDS:
        t0 = time.perf_counter()
        out = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, check=False,
        )
        wall = time.perf_counter() - t0
        last = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
        res = json.loads(last) if out.returncode == 0 else {}
        print(f"seed {seed}: rc={out.returncode} correct={res.get('correct')} failed={res.get('failed')} "
              f"wall={wall:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()), flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    for m in spec["end_to_end"]:
        vals = values.get(m["name"], [])
        if len(vals) < 2:
            continue
        share = iqr_share(vals)
        flag = "ok" if share < m["bound"] / 3 else ("within bound" if share < m["bound"] else "OVER BOUND")
        print(f"{m['name']:>14}: median {statistics.median(vals):.4g} {m['unit']}, "
              f"spread {share:.3f} (bound {m['bound']}) {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
