"""The seeded generators: determinism, value gates, raw JSON shapes."""

import filecmp
import json
import os

import numpy as np
import pytest
from pyspark.sql import types as T

import catalog_data
import garmin_data as gd
import wl_ingest
from garmin_performance_analysis_spark.sources import raw_json

# Physiologic gates from FIXTURES.md (silver units).
GATES = {
    "pace_seconds_per_km": (0, 600),
    "average_speed": (1.5, 7.0),
    "ground_contact_time": (150, 350),
    "vertical_oscillation": (5, 20),
    "vertical_ratio": (4, 15),
    "cadence": (140, 210),
}


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    assert not cmp.left_only and not cmp.right_only
    for name in cmp.common_files:
        assert filecmp.cmp(os.path.join(a, name), os.path.join(b, name), shallow=False), name
    for sub in cmp.common_dirs:
        _same_tree(os.path.join(a, sub), os.path.join(b, sub))


def test_same_seed_gives_byte_identical_files(tmp_path):
    for run in ("a", "b"):
        gd.write_staging(7, str(tmp_path / run / "staging"))
        for k in range(3):
            gd.write_raw(gd.ingest_activity(7, k), str(tmp_path / run / "raw"))
        catalog_data.write_tables(7, 0.001, str(tmp_path / run / "tables"))
    _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    gd.write_staging(8, str(tmp_path / "c"))
    assert not filecmp.cmp(
        str(tmp_path / "a" / "staging" / "splits.parquet"), str(tmp_path / "c" / "splits.parquet"), shallow=False
    )


def test_store_scale_and_value_gates():
    frames = gd.silver_frames(3)
    acts, splits, ts = frames["activities"], frames["splits"], frames["time_series_metrics"]
    assert acts.num_rows == gd.N_ACTIVITIES
    assert 8 <= splits.num_rows / acts.num_rows <= 11
    assert 1200 <= ts.num_rows / acts.num_rows <= 1800
    for col, (lo, hi) in GATES.items():
        vals = splits.column(col).to_numpy()
        assert (vals > lo).all() and (vals < hi).all(), col
    for col in ("ground_contact_time", "vertical_oscillation", "vertical_ratio", "cadence"):
        lo, hi = GATES[col]
        vals = ts.column(col).to_numpy()
        assert (vals > lo).all() and (vals < hi).all(), col
    assert len(set(acts.column("activity_date").to_pylist())) == gd.N_ACTIVITIES


def test_interval_sessions_and_anomaly_islands_are_injected():
    acts = gd.start_activities(3)
    intervals = [a for a in acts if a["summary"]["activity_name"] == "Interval Run"]
    assert 0.2 < len(intervals) / len(acts) < 0.4
    for a in intervals[:20]:
        kinds = [lap["intensityType"] for lap in a["laps"]]
        assert kinds.count("INTERVAL") >= 2 and kinds.count("RECOVERY") >= 2
    # every activity carries at least one island 3+ sigma above its mean
    for a in acts[:50]:
        gct = a["raw"]["directGroundContactTime"]
        z = (gct - gct.mean()) / gct.std(ddof=1)
        assert (z > 3).sum() >= 4


def test_ingest_sequence_alternates_resyncs_and_new_runs_in_full_months():
    plans = [gd.ingest_plan(5, k) for k in range(10)]
    resync = [k for k, (_aid, _day, variant) in enumerate(plans) if variant]
    assert resync == [0, 2, 4, 6, 8]
    new_ids = [aid for aid, _day, variant in plans if not variant]
    assert len(set(new_ids)) == 5 and min(new_ids) == gd.FIRST_ID + gd.N_ACTIVITIES
    old = {a["summary"]["activity_id"]: a["summary"]["activity_date"] for a in gd.start_activities(5)}
    days = gd.start_days(5)
    middle = {(d.year, d.month) for d in days[gd.N_ACTIVITIES // 4 : 3 * gd.N_ACTIVITIES // 4]}
    for aid, day, variant in plans:
        if variant:
            assert old[aid] == day
        else:
            assert day in days
        assert (day.year, day.month) in middle


def _conforms(value, dtype):
    if value is None:
        return False
    if isinstance(dtype, T.StructType):
        return isinstance(value, dict) and all(_conforms(value.get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.ArrayType):
        return isinstance(value, list) and all(_conforms(v, dtype.elementType) for v in value)
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return isinstance(value, int)
    if isinstance(dtype, T.DoubleType):
        return isinstance(value, (int, float))
    return isinstance(value, str)


def test_raw_json_fills_every_declared_field(tmp_path):
    act = gd.ingest_activity(4, 1)
    d = gd.write_raw(act, str(tmp_path))
    with open(os.path.join(d, "splits.json")) as f:
        assert _conforms(json.load(f), raw_json.SPLITS_FILE_SCHEMA)
    with open(os.path.join(d, "hr_zones.json")) as f:
        assert _conforms(json.load(f), raw_json.HR_ZONES_SCHEMA)
    with open(os.path.join(d, "activity_details.json")) as f:
        assert _conforms(json.load(f), raw_json.DETAILS_SCHEMA)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from garmin_performance_analysis_spark.session import get_spark

    return get_spark("perfbench-tests")


def test_raw_json_parses_without_nulls_and_matches_silver_rows(spark, tmp_path):
    act = gd.ingest_activity(4, 2)
    d = gd.write_raw(act, str(tmp_path))
    aid = act["summary"]["activity_id"]
    laps = raw_json.read_splits(spark, os.path.join(d, "splits.json"), aid)
    zones = raw_json.read_hr_zones(spark, os.path.join(d, "hr_zones.json"), aid)
    long_ts = raw_json.pivot_time_series(spark, os.path.join(d, "activity_details.json"))
    for df in (laps, zones, long_ts):
        rows = df.collect()
        assert rows and all(v is not None for r in rows for v in r), df.columns
    assert laps.count() == len(act["laps"])
    assert long_ts.count() == len(gd.METRICS) * len(act["raw"]["sumDuration"])
    want = dict(zip(gd.silver_time_series(act).column("seq_no").to_pylist(),
                    gd.silver_time_series(act).column("vertical_oscillation").to_pylist()))
    got = {r["seq_no"]: r["value"] for r in long_ts.filter("metric_key = 'directVerticalOscillation'").collect()}
    assert got == want


def test_reads_find_intervals_and_anomalies(spark, tmp_path):
    from garmin_performance_analysis_spark.tools import GarminTools

    acts = gd.start_activities(6)[:40]
    frames = gd.silver_frames(6, acts)
    tables = {n: spark.createDataFrame(t.to_pandas()) for n, t in frames.items()}
    tools = GarminTools(spark, tables)
    interval = next(a for a in acts if a["summary"]["activity_name"] == "Interval Run")
    aid = interval["summary"]["activity_id"]
    reps = sum(1 for lap in interval["laps"] if lap["intensityType"] == "INTERVAL")
    assert tools.interval_analysis(aid).collect()[0]["n_work_segments"] == reps
    for metric, gate in (("ground_contact_time", 10.0), ("vertical_oscillation", 0.5), ("vertical_ratio", 0.3)):
        rows = tools.detect_form_anomalies_summary(aid, metric, gate).collect()
        assert sum(r["n_islands"] for r in rows) >= 1, metric
    problem = wl_ingest.check(
        "get_time_series_stats",
        [tools.get_time_series_stats(aid, 0, 10**9, wl_ingest.TS_METRICS).collect()],
        wl_ingest.facts(interval),
    )
    assert problem is None
    assert np.isfinite(tools.get_durability_decoupling(aid).collect()[0]["heart_rate_drift"])
