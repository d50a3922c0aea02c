"""``ingest-then-analyze``: the reference's sync-then-analyze flow.

Set-up starts the session, builds the silver store from the generated
starting rows through ``pipelines.silver.write_partitioned`` and
``read_silver``, and runs one untimed warm-up cycle.  Each cycle then:

1. ingests one generated activity from its raw JSON: the bronze readers
   in ``sources.raw_json`` parse it and
   ``pipelines.silver.delete_insert_by_key`` writes activities, splits,
   HR zones and time series.  Every other ingest (the warm-up among
   them) re-syncs a corrected version of an old activity into its old
   month; the others add a new activity to an existing month.  A run
   measures at least three cycles (new, re-sync, new), so a median of
   three stands against one slow cycle;
2. re-resolves the silver tables and reads the activity back:
   ``prefetch_activity_context``, ``get_splits_pace_hr`` and
   ``get_time_series_stats`` over the whole activity.

The reads are the ingest check: the activity's row counts in
activities, splits, HR zones and time series must equal the generated
counts, so a re-synced activity that appears twice, or keeps stale
rows, fails.  A read-side cache or layout change that slows the writer,
grows storage or serves stale rows shows here.

Benchmark glue between the bronze frames and silver, and nothing more:
column renames, lap distance m -> km, ``pace_seconds_per_km`` as
``1000 / averageSpeed``, the ``activity_date`` column each silver table
is partitioned by, and the long-to-wide time-series pivot.  The
activities row is passed as generated, because ``sources`` has no
reader for ``activity.json``.
"""

from __future__ import annotations

import os
import time
from statistics import median

import garmin_data as gd
from common import span_self_ms, start_session, store_mb

TS_METRICS = ["heart_rate", "speed", "cadence"]
# The reads after each ingest: the per-activity bundle, then two
# per-activity reads, all of the activity just written.
METHODS = ("prefetch_activity_context", "get_splits_pace_hr", "get_time_series_stats")
# Untraced cycles measured at least, whatever the run's seconds: with
# three, one cycle slowed by a burst of CPU steal on a shared host does
# not move the medians.  More would steady them further, but a run must
# stay near a minute on a 4-CPU host.
MIN_CYCLES = 3


def facts(act: dict) -> dict:
    """Row counts the reads of one activity must return."""
    return {"laps": len(act["laps"]), "rows": len(act["raw"]["sumDuration"])}


def read_calls(aid: int) -> list[tuple[str, tuple]]:
    return [
        ("prefetch_activity_context", (aid,)),
        ("get_splits_pace_hr", (aid,)),
        ("get_time_series_stats", (aid, 0, 10**9, TS_METRICS)),
    ]


def check(method: str, rows: list[list], f: dict) -> str | None:
    """Compare one read's collected rows with the activity's generated
    counts; returns None when right, else what differs."""
    if method == "prefetch_activity_context":
        # activity, splits, performance_trends, hr_zones, weather
        got = (len(rows[0]), len(rows[1]), len(rows[3]))
        want = (1, f["laps"], 5)
        return None if got == want else f"activity/splits/hr_zones rows {got}, want {want}"
    want = f["laps"] if method == "get_splits_pace_hr" else f["rows"]
    got = [r["n"] for r in rows[0]]
    return None if got == [want] else f"n {got}, want [{want}]"


def tool_call(run, tools, method: str, args: tuple):
    """One read: build the lazy frame(s), then collect each; returns
    ``((rows, build_s), frames)``."""
    tr = run.tracer
    with tr.span("tools.build"):
        t0 = time.perf_counter()
        out = getattr(tools, method)(*args)
        build = time.perf_counter() - t0
    frames = list(out.values()) if isinstance(out, dict) else [out]
    with tr.span("tools.collect"):
        rows = [df.collect() for df in frames]
    return (rows, build), frames


def build_silver(run, spark, staging: dict[str, str], silver_root: str) -> dict:
    """Program-side silver build and table resolution."""
    from garmin_performance_analysis_spark.pipelines import silver

    tables = {}
    with run.tracer.span("pipelines.silver.write_partitioned"):
        for name in gd.SILVER_ROWS:
            silver.write_partitioned(
                spark.read.parquet(staging[name]), os.path.join(silver_root, name), gd.DATE_COL
            )
    with run.tracer.span("sources.resolve"):
        for name, path in staging.items():
            if name in gd.SILVER_ROWS:
                tables[name] = silver.read_silver(spark, os.path.join(silver_root, name))
            else:
                tables[name] = spark.read.parquet(path)
    return tables


def to_silver(run, spark, act: dict, raw_dir: str) -> dict:
    """Bronze frames for one activity, with the glue applied."""
    from pyspark.sql import functions as F

    from garmin_performance_analysis_spark.sources import raw_json

    aid = act["summary"]["activity_id"]
    day = F.lit(act["summary"]["activity_date"])
    with run.tracer.span("sources.raw_json"):
        laps = raw_json.read_splits(spark, os.path.join(raw_dir, "splits.json"), aid)
        zones = raw_json.read_hr_zones(spark, os.path.join(raw_dir, "hr_zones.json"), aid)
        long_ts = raw_json.pivot_time_series(spark, os.path.join(raw_dir, "activity_details.json"))
    splits = laps.select(
        "activity_id",
        *[F.col(raw).alias(silver) for raw, silver in gd.LAP_RENAMES.items()],
        (F.col("distance") / 1000.0).alias("distance"),
        (F.lit(1000.0) / F.col("averageSpeed")).alias("pace_seconds_per_km"),
        day.alias("activity_date"),
    )
    keys = list(gd.METRICS)
    ts = (
        long_ts.groupBy("activity_id", "seq_no")
        .pivot("metric_key", keys)
        .agg(F.first("value"))
        .select(
            "activity_id",
            "seq_no",
            *[F.col(k).alias(gd.METRICS[k][0]) for k in keys],
            day.alias("activity_date"),
        )
    )
    return {
        "activities": spark.createDataFrame(gd.silver_activity(act).to_pandas()),
        "splits": splits,
        "heart_rate_zones": zones.withColumn("activity_date", day),
        "time_series_metrics": ts,
    }


def parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


def ingest(run, spark, act: dict, raw_dir: str, silver_root: str, rec_extra: dict):
    """One ingest op: parse, glue, and four keyed delete-then-insert
    writes."""
    from garmin_performance_analysis_spark.pipelines import silver

    t0 = time.perf_counter()
    frames = to_silver(run, spark, act, raw_dir)
    t1 = time.perf_counter()
    with run.tracer.span("pipelines.silver.delete_insert_by_key"):
        for name, df in frames.items():
            silver.delete_insert_by_key(
                spark, os.path.join(silver_root, name), df, "activity_id", gd.DATE_COL
            )
    rec_extra["parse_ms"] = (t1 - t0) * 1000.0
    rec_extra["write_ms"] = (time.perf_counter() - t1) * 1000.0
    return None, list(frames.values())


def resolve_and_prefetch(run, spark, state: dict, aid: int, rec_extra: dict):
    """The first read after a write: re-resolve the silver tables, then
    ``prefetch_activity_context``."""
    from garmin_performance_analysis_spark.pipelines import silver
    from garmin_performance_analysis_spark.tools import GarminTools

    t0 = time.perf_counter()
    with run.tracer.span("sources.resolve"):
        tables = dict(state["tables"])
        for name in gd.SILVER_ROWS:
            tables[name] = silver.read_silver(spark, os.path.join(state["silver_root"], name))
    rec_extra["resolve_ms"] = (time.perf_counter() - t0) * 1000.0
    state["tables"] = tables
    state["tools"] = GarminTools(spark, tables)
    return tool_call(run, state["tools"], "prefetch_activity_context", (aid,))


def cycle(run, spark, k: int, state: dict, measured: bool, traced: bool | None = None) -> None:
    """Ingest the ``k``-th activity of the sequence, then read it back
    from the fresh tables and check the counts."""
    act = gd.ingest_activity(run.seed, k)
    raw_dir = gd.write_raw(act, os.path.join(run.run_dir, "raw"))
    aid = act["summary"]["activity_id"]
    silver_root = state["silver_root"]
    truth = facts(act)
    new_bytes = sum(fn(act).nbytes for fn in gd.SILVER_ROWS.values())

    before = parquet_files(silver_root)
    extra: dict = {}
    resync = gd.ingest_plan(run.seed, k)[2] > 0
    _res, irec = run.op(
        "ingest",
        "ingest_resync" if resync else "ingest_new",
        lambda: ingest(run, spark, act, raw_dir, silver_root, extra),
        measured=measured,
        traced=traced,
    )
    written = {p: s for p, s in parquet_files(silver_root).items() if p not in before}
    irec.update(extra)
    irec["files_written"] = len(written)
    irec["partitions_rewritten"] = len({os.path.dirname(p) for p in written})
    irec["write_amp"] = sum(written.values()) / new_bytes

    wrong = []
    for method, args in read_calls(aid):
        extra = {}
        if method == "prefetch_activity_context":
            fn = lambda a=args, x=extra: resolve_and_prefetch(run, spark, state, a[0], x)  # noqa: E731
        else:
            fn = lambda m=method, a=args: tool_call(run, state["tools"], m, a)  # noqa: E731
        res, rec = run.op("read", method, fn, measured=measured, traced=traced)
        rec.update(extra)
        if res is None:
            run.verdict(rec, False)
            wrong.append(method)
            continue
        rec["build_ms"] = res[1] * 1000.0
        problem = check(method, res[0], truth)
        run.verdict(rec, problem is None, f"{method} after ingest of {aid}: {problem}")
        if problem is not None:
            wrong.append(method)
    # The ingest is right when its activity reads back right.
    run.verdict(irec, not wrong, f"reads of {aid} wrong after ingest: {wrong}")


def run(run):
    staging = gd.write_staging(run.seed, os.path.join(run.run_dir, "staging"))
    silver_root = os.path.join(run.run_dir, "silver")
    state = {"silver_root": silver_root}

    t0 = time.perf_counter()
    spark = start_session(run)
    state["tables"] = build_silver(run, spark, staging, silver_root)
    cycle(run, spark, 0, state, measured=False, traced=False)
    run.setup_s = time.perf_counter() - t0

    k = 1
    walls = {False: [], True: []}

    def more() -> bool:
        if run.trace:
            # whole groups of four cycles
            return k % 4 != 1 or not walls[True]
        return len(walls[False]) < MIN_CYCLES

    start = time.perf_counter()
    while more() or time.perf_counter() - start < run.seconds:
        # Odd cycles add a new activity, even ones re-sync an old one.
        # Traced runs go untraced, traced, traced, untraced, so that
        # each side of trace.overhead_pct holds one cycle of each kind
        # and the run's warming up weighs on both alike.
        traced = run.trace and k % 4 in (2, 3)
        c0 = time.perf_counter()
        cycle(run, spark, k, state, measured=True, traced=traced)
        walls[traced].append(time.perf_counter() - c0)
        k += 1

    run.rss.stop()  # the peak covers set-up and the timed cycles
    plain = [r for r in run.measured() if not r["traced"]]
    ingests = [r["wall_ms"] for r in plain if r["kind"] == "ingest"]
    reads = [r["wall_ms"] for r in plain if r["kind"] == "read"]
    e2e = {
        "setup_s": (run.setup_s, "s"),
        "op_p50_ms": (median(ingests), "ms"),
        "read_p50_ms": (median(reads), "ms"),
        "batch_wall_s": (median(walls[False]), "s"),
        "store_mb": (store_mb(silver_root), "MB"),
    }
    layers = {}
    if run.trace:
        traced = [r for r in run.measured() if r["traced"]]
        t_ing = [r for r in traced if r["kind"] == "ingest"]
        t_reads = [r for r in traced if r["kind"] == "read"]

        def med(rows, key):
            return median([r[key] for r in rows if key in r] or [0.0])

        layers["session.start_s"] = (median(run.layer["session.start_s"]), "s")
        layers["sources.raw_json_parse_ms"] = (span_self_ms(run.tracer, "sources.raw_json"), "ms")
        layers["sources.resolve_ms"] = (med(t_reads, "resolve_ms"), "ms")
        layers["pipelines.silver.write_ms"] = (med(t_ing, "write_ms"), "ms")
        for key in ("partitions_rewritten", "files_written"):
            layers[f"pipelines.silver.{key}"] = (med(t_ing, key), "count")
        layers["pipelines.silver.write_amp"] = (med(t_ing, "write_amp"), "ratio")
        layers["tools.build_ms"] = (med(t_reads, "build_ms"), "ms")
        layers["tools.collect_ms"] = (span_self_ms(run.tracer, "tools.collect"), "ms")
        layers["tools.py4j_calls"] = (med(t_reads, "py4j_calls"), "count")
        for m in METHODS:
            mine = [r for r in t_reads if r["name"] == m]
            layers[f"tools.{m}.build_ms"] = (med(mine, "build_ms"), "ms")
            layers[f"tools.{m}.total_ms"] = (med(mine, "wall_ms"), "ms")
        layers["trace.overhead_pct"] = (100.0 * (median(walls[True]) / median(walls[False]) - 1.0), "%")
    run.layer["samples"] = {"ingests": len(ingests), "reads": len(reads)}
    run.layer["traced_passes"] = len(walls[True])
    return e2e, layers
