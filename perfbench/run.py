"""Benchmark command: run one workload against the package's public
functions, check its outputs, and print its metrics.

    python3 perfbench/run.py --workload catalog-batch --seed 1 --seconds 5 --trace 0

Run it from the repository root.  Inputs are generated from ``--seed``
under ``.perfbench_run/`` (removed at the end of the run; the per-op
records stay in ``.perfbench_run/records/``).  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones, named as in ``BENCHMARK.json``).  The line before it is
a compact summary with the host context and any failing ops.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
WORKLOADS = {
    "ingest-then-analyze": "wl_ingest",
    "catalog-batch": "wl_catalog",
}


def benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "garmin_performance_analysis_spark", "__init__.py")):
        print("perfbench: the package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import common

    spec = benchmark_spec()
    run_dir = os.path.join(WORK, f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    os.environ.update(common.spark_env(run_dir, bool(args.trace)))

    module = __import__(WORKLOADS[args.workload])
    run = common.Run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        e2e, layer_metrics = module.run(run)
        out = run.finish(e2e, layer_metrics)
    finally:
        common.shutdown_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        # A layer metric this workload should produce and did not is
        # missing; one whose layer the workload never calls reads 0.
        import layers

        wanted = spec["per_layer"]
        required = layers.required(args.workload)
    else:
        wanted = spec["end_to_end"]
        required = {m["name"] for m in wanted}
    missing = sorted(required - set(out["metrics"]))
    metrics = {}
    for m in wanted:
        got = out["metrics"].get(m["name"], {"value": 0.0})
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    # The summary line stays short; the run's JSONL record lists every
    # failing op in full.
    summary = dict(out["summary"], failures=out["summary"]["failures"][:3])
    summary["n_failures"] = len(out["summary"]["failures"])
    summary["samples"] = run.layer.get("samples")
    summary["missing_metrics"] = missing
    if not args.trace:
        summary["e2e"] = {k: round(v[0], 4) for k, v in out["e2e"].items()}
    print(json.dumps(summary, separators=(",", ":")))
    print(
        json.dumps(
            {
                "correct": out["failed"] == 0 and not missing,
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
