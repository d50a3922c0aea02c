"""Which end-to-end metric each per-layer metric should move, and on
which workload.  ``BENCHMARK.json`` lists the same per-layer names and
units; ``tests/test_bench_spec.py`` keeps the two in step.

Context metrics (host noise, tracing cost) move nothing by design.
A traced run reports every metric below.  One that maps to the
workload (or is context) and is not produced makes the run incorrect;
one whose layer the workload never calls reads 0 there.
"""

from __future__ import annotations

import wl_catalog
import wl_ingest

IA, CB = "ingest-then-analyze", "catalog-batch"

# name -> (unit, [(end-to-end metric, workload), ...])
LAYERS: dict[str, tuple[str, list[tuple[str, str]]]] = {
    "session.start_s": ("s", [("setup_s", IA), ("setup_s", CB)]),
    "tools.build_ms": ("ms", [("read_p50_ms", IA)]),
    "tools.collect_ms": ("ms", [("read_p50_ms", IA)]),
    "tools.py4j_calls": ("count", [("read_p50_ms", IA)]),
}
for _m in wl_ingest.METHODS:
    LAYERS[f"tools.{_m}.build_ms"] = ("ms", [("read_p50_ms", IA)])
    LAYERS[f"tools.{_m}.total_ms"] = ("ms", [("read_p50_ms", IA), ("batch_wall_s", IA)])
LAYERS.update(
    {
        "spark.plan.analysis_ms": ("ms", [("read_p50_ms", IA), ("batch_wall_s", CB)]),
        "spark.plan.optimization_ms": ("ms", [("read_p50_ms", IA), ("batch_wall_s", CB)]),
        "spark.plan.planning_ms": ("ms", [("read_p50_ms", IA), ("batch_wall_s", CB)]),
        "spark.sched.jobs": ("count", [("read_p50_ms", IA), ("op_p50_ms", IA)]),
        "spark.sched.stages": ("count", [("read_p50_ms", IA), ("op_p50_ms", IA)]),
        "spark.sched.tasks": ("count", [("read_p50_ms", IA), ("op_p50_ms", IA)]),
        "spark.exec.run_ms": ("ms", [("batch_wall_s", CB), ("op_p50_ms", CB)]),
        "spark.exec.shuffle_write_mb": ("MB", [("batch_wall_s", CB)]),
        "spark.exec.spill_mb": ("MB", [("batch_wall_s", CB)]),
        "spark.pyworker_ms": ("ms", [("batch_wall_s", CB)]),
    }
)
for _e in wl_catalog.ENTRIES:
    LAYERS[f"harness.{_e}_s"] = ("s", [("batch_wall_s", CB)])
    LAYERS[f"harness.{_e}.build_ms"] = ("ms", [("batch_wall_s", CB)])
LAYERS.update(
    {
        "sources.raw_json_parse_ms": ("ms", [("op_p50_ms", IA)]),
        "sources.resolve_ms": ("ms", [("read_p50_ms", IA)]),
        "pipelines.silver.write_ms": ("ms", [("op_p50_ms", IA)]),
        "pipelines.silver.partitions_rewritten": ("count", [("op_p50_ms", IA)]),
        "pipelines.silver.files_written": ("count", [("op_p50_ms", IA), ("store_mb", IA)]),
        "pipelines.silver.write_amp": ("ratio", [("op_p50_ms", IA), ("store_mb", IA)]),
        "cache.leaked_rdds": ("count", [("peak_rss_mb", IA), ("peak_rss_mb", CB), ("batch_wall_s", CB)]),
        "host.steal_pct": ("%", []),
        "host.load1": ("load", []),
        "trace.overhead_pct": ("%", []),
    }
)
CONTEXT = {"host.steal_pct", "host.load1", "trace.overhead_pct"}


def required(workload: str) -> set[str]:
    """The per-layer metrics a traced run of ``workload`` must produce:
    those that map to it, and the context ones."""
    return {
        name
        for name, (_unit, moves) in LAYERS.items()
        if name in CONTEXT or any(w == workload for _metric, w in moves)
    }
