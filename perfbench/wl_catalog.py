"""``catalog-batch``: a fixed list of batch-shaped catalog entries.

One entry per ``pipelines`` module (dedup, similarity, text,
multimodal, shards, prep, retrieval, incremental), plus
``operators.graph``, ``operators.baselines`` and a ``streaming`` replay,
over seeded star-schema tables at sf 0.01.
The cheapest entry of each module was chosen, so that a run fits the
benchmark's time budget.
Set-up starts the session (launching the JVM), resolves every table
through ``sources.tables.load_table`` and runs one small entry, once per
run, as a user's first batch would.  One untimed pass over the entries
follows.  The client then forces every entry with ``toPandas()`` once
per pass, in a fixed order, for at least three passes and until the
run's seconds are used; persisted blocks are never cleared.  One pass's
wall is the sum of each entry's median over the timed passes.  At the
end, every result is compared with its entry's DuckDB oracle through
``harness.compare`` in strict mode (each oracle runs once per run).

Most of the time goes to execution (shuffle, Arrow and pandas workers,
driver-side solves, checkpoint commits); per-call overhead is small.
"""

from __future__ import annotations

import os
import time
from statistics import median

import catalog_data as cdata
from common import start_session, store_mb

SF = 0.01
ENTRIES = (
    "d6_decontamination",  # pipelines.dedup
    "v1_cosine_topk",  # pipelines.similarity
    "x34_gopher_quality_rules",  # pipelines.text
    "mm1_binary_metadata",  # pipelines.multimodal
    "c8_shard_assignment",  # pipelines.shards
    "c11_doc_chunks",  # pipelines.prep
    "x6_tfidf_topk",  # pipelines.retrieval
    "i1_incremental_dedup_replay",  # pipelines.incremental
    "i5_stream_dedup_replay",  # streaming replay
    "g2_connected_components",  # operators.graph
    "m5b_huber_baseline",  # operators.baselines (applyInPandas)
)
WARMUP = "c11_doc_chunks"
# Timed passes at least, whatever the run's seconds.  batch_wall_s sums
# each entry's median over the passes, so one slow pass (a burst of CPU
# steal on a shared host) does not move it; that takes three passes.
MIN_PASSES = 3


def force(run, catalog, name: str, sf_dir: str):
    tracer = run.tracer
    spark = run.spark
    with tracer.span("harness.build"):
        t0 = time.perf_counter()
        df = catalog[name].fn(spark, sf_dir)
        build = time.perf_counter() - t0
    # toPandas, as the repository's parity gate forces an entry, so the
    # result carries the dtypes the strict comparison checks.
    with tracer.span("harness.to_pandas"):
        pdf = df.toPandas()
    return (pdf, build), [df]


def setup(run, sf_dir: str) -> None:
    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.sources.tables import TABLE_NAMES, load_table

    t0 = time.perf_counter()
    spark = start_session(run)
    with run.tracer.span("sources.resolve"):
        for name in TABLE_NAMES:
            load_table(spark, sf_dir, name)
    run.op("entry", WARMUP, lambda: force(run, CATALOG, WARMUP, sf_dir), measured=False, traced=False)
    run.setup_s = time.perf_counter() - t0


def oracle_check(run, results: list, sf_dir: str) -> None:
    import duckdb

    from garmin_performance_analysis_spark.harness.catalog import CATALOG
    from garmin_performance_analysis_spark.harness.compare import compare_frames
    from garmin_performance_analysis_spark.sources.tables import TABLE_NAMES

    con = duckdb.connect()
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{os.path.join(run.run_dir, 'duckdb')}'")
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    oracles: dict = {}
    try:
        for rec, spark_pdf in results:
            name = rec["name"]
            if name not in oracles:
                oracles[name] = con.execute(CATALOG[name].oracle).df()
            # strict: dtype-sensitive and full-precision, as the
            # repository's parity gate compares
            res = compare_frames(name, spark_pdf, oracles[name], strict=True)
            run.verdict(rec, res.ok, f"{name}: {res.detail} (spark {res.spark_rows} rows, oracle {res.oracle_rows})")
    finally:
        con.close()


def run(run):
    from garmin_performance_analysis_spark.harness.catalog import CATALOG

    sf_dir = cdata.write_tables(run.seed, SF, os.path.join(run.run_dir, "tables"))
    setup(run, sf_dir)

    results = []

    def one_pass(traced: bool, measured: bool) -> float:
        p0 = time.perf_counter()
        for name in ENTRIES:
            res, rec = run.op(
                "entry", name, lambda n=name: force(run, CATALOG, n, sf_dir), measured=measured, traced=traced
            )
            if res is None:
                run.verdict(rec, False)
                continue
            rec["build_ms"] = res[1] * 1000.0
            results.append((rec, res[0]))
        return time.perf_counter() - p0

    # An untimed pass first pays JIT compilation, class loading and
    # Python-worker start-up; timed from the first pass, the median
    # entry latency spread beyond the benchmark's bound from run to run
    # on a shared 4-CPU host.  Its results are checked against the
    # oracles as well.
    one_pass(traced=False, measured=False)
    walls = []
    if run.trace:
        # The traced pass gives the layers; the untraced passes on
        # either side of it (passes still speed up as the JIT warms)
        # give the overhead.
        before = one_pass(traced=False, measured=False)
        walls.append(one_pass(traced=True, measured=True))
        after = one_pass(traced=False, measured=False)
        overhead = walls[0] / ((before + after) / 2.0) - 1.0
    else:
        start = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - start < run.seconds:
            walls.append(one_pass(traced=False, measured=True))
    # The peak covers set-up and the passes, not the oracles' DuckDB.
    run.rss.stop()
    oracle_check(run, results, sf_dir)

    lat = [r["wall_ms"] for r in run.measured("entry")]
    p50 = median(lat)
    pass_s = sum(
        median([r["wall_ms"] for r in run.measured("entry") if r["name"] == name]) / 1000.0
        for name in ENTRIES
    )
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "op_p50_ms": (p50, "ms"),
        "read_p50_ms": (p50, "ms"),
        "batch_wall_s": (pass_s, "s"),
        "store_mb": (store_mb(os.path.join(run.run_dir, "tables")) + store_mb(os.path.join(run.run_dir, "scratch")), "MB"),
    }
    layers = {}
    if run.trace:
        traced = [r for r in run.measured("entry") if r["traced"]]
        layers["session.start_s"] = (median(run.layer["session.start_s"]), "s")
        for name in ENTRIES:
            mine = [r for r in traced if r["name"] == name]
            layers[f"harness.{name}_s"] = (median([r["wall_ms"] / 1000.0 for r in mine] or [0.0]), "s")
            layers[f"harness.{name}.build_ms"] = (median([r.get("build_ms", 0.0) for r in mine] or [0.0]), "ms")
        layers["trace.overhead_pct"] = (100.0 * overhead, "%")
    run.layer["samples"] = {"entries": len(lat)}
    return e2e, layers
