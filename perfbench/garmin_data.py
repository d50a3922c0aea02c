"""Seeded Garmin-shaped inputs: the starting silver tables and the raw
JSON of activities to ingest.

Scale follows the reference's production store: about 520 activities,
about 9 laps each and about 1,500 time-series rows each (one sample per
2 s, Garmin's smart recording).  Every value stays inside the
physiologic gates FIXTURES.md lists, so the statistical reads do not
degenerate to empty results.  Interval sessions (work/recovery lap
alternation) and form-anomaly islands (sustained spikes in ground
contact time, vertical oscillation and vertical ratio) are injected so
``interval_analysis`` and ``detect_form_anomalies_summary`` return rows.

The raw JSON has the shapes ``sources/raw_json.py`` declares
(``splits.json`` with ``lapDTOs``, ``hr_zones.json``,
``activity_details.json`` with positional metric arrays).  A silver row
built here equals the row the ingest glue derives from the same
activity's raw JSON, so a re-ingest of unchanged data is a no-op.

Everything is a pure function of the seed: the same seed gives
byte-identical files.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ACTIVITIES = 520
SAMPLE_S = 2
FIRST_DAY = datetime.date(2023, 1, 2)
FIRST_ID = 20_000_000_000

# Raw metric key -> (silver column, unit factor).  Vertical oscillation
# arrives in mm and elevation in cm, as on the device.
METRICS = {
    "sumDuration": ("timestamp_s", 1.0),
    "directHeartRate": ("heart_rate", 1.0),
    "directSpeed": ("speed", 1.0),
    "directDoubleCadence": ("cadence", 1.0),
    "directPower": ("power", 1.0),
    "directGroundContactTime": ("ground_contact_time", 1.0),
    "directVerticalOscillation": ("vertical_oscillation", 0.1),
    "directVerticalRatio": ("vertical_ratio", 1.0),
    "directElevation": ("elevation", 0.01),
}

# lapDTOs field -> silver splits column (renames only).
LAP_RENAMES = {
    "lapIndex": "split_index",
    "intensityType": "intensity_type",
    "duration": "duration_seconds",
    "averageHR": "heart_rate",
    "maxHR": "max_heart_rate",
    "averageRunCadence": "cadence",
    "averagePower": "power",
    "groundContactTime": "ground_contact_time",
    "verticalOscillation": "vertical_oscillation",
    "verticalRatio": "vertical_ratio",
    "elevationGain": "elevation_gain",
    "elevationLoss": "elevation_loss",
    "strideLength": "stride_length",
    "averageSpeed": "average_speed",
    "avgGradeAdjustedSpeed": "grade_adjusted_speed",
}

# Form metrics that carry injected anomaly islands, with the offset of
# an island in the metric's silver unit (well above the detector's
# magnitude gates of 10 ms, 0.5 cm and 0.3 %).
ANOMALY_OFFSETS = {
    "ground_contact_time": 45.0,
    "vertical_oscillation": 2.5,
    "vertical_ratio": 1.8,
}


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _r(x, nd):
    """Round to ``nd`` decimals as a Python float (JSON round-trips it)."""
    return float(np.round(x, nd))


def make_activity(seed: int, activity_id: int, day: datetime.date, variant: int = 0) -> dict:
    """One activity: summary, laps and raw metric rows, all from
    ``(seed, activity_id, variant)``.  ``variant`` > 0 gives a corrected
    re-sync of the same activity (different laps and samples)."""
    rng = _rng(seed, activity_id % 1_000_000_007, variant)
    interval = rng.random() < 0.3
    base_pace = rng.uniform(285.0, 365.0)
    if interval:
        n_reps = int(rng.integers(3, 5))
        kinds = ["WARMUP"] + ["INTERVAL", "RECOVERY"] * n_reps + ["COOLDOWN"]
    else:
        kinds = ["WARMUP"] + ["ACTIVE"] * int(rng.integers(6, 10)) + ["COOLDOWN"]
    pace_of = {"WARMUP": 35.0, "ACTIVE": 0.0, "INTERVAL": -45.0, "RECOVERY": 70.0, "COOLDOWN": 40.0}
    dist_of = {"WARMUP": 1000.0, "ACTIVE": 1000.0, "INTERVAL": 800.0, "RECOVERY": 400.0, "COOLDOWN": 1000.0}
    hr_of = {"WARMUP": 132.0, "ACTIVE": 150.0, "INTERVAL": 168.0, "RECOVERY": 138.0, "COOLDOWN": 135.0}

    laps = []
    t = 0.0
    for i, kind in enumerate(kinds, start=1):
        pace = float(np.clip(base_pace + pace_of[kind] + rng.normal(0, 6), 240.0, 440.0))
        dist = _r(dist_of[kind] * rng.uniform(0.97, 1.03), 1)
        speed = _r(1000.0 / pace, 4)
        duration = _r(dist / speed, 1)
        hr = _r(hr_of[kind] + (base_pace < 320) * 4 + rng.normal(0, 3), 0)
        laps.append(
            {
                "lapIndex": i,
                "distance": dist,
                "duration": duration,
                "startTimeGMT": f"{day.isoformat()}T07:00:00.0",
                "intensityType": kind,
                "averageHR": hr,
                "maxHR": hr + _r(rng.uniform(5, 12), 0),
                "averageRunCadence": _r(160.0 + (speed - 2.2) * 12 + rng.normal(0, 2), 1),
                "maxRunCadence": _r(190.0 + rng.uniform(0, 8), 1),
                "averagePower": _r(190.0 + speed * 30 + rng.normal(0, 8), 1),
                "maxPower": _r(330.0 + rng.uniform(0, 40), 1),
                "normalizedPower": _r(200.0 + speed * 30, 1),
                "groundContactTime": _r(300.0 - speed * 18 + rng.normal(0, 4), 1),
                "verticalOscillation": _r(8.5 + rng.normal(0, 0.4), 2),
                "verticalRatio": _r(7.5 + rng.normal(0, 0.3), 2),
                "elevationGain": _r(rng.uniform(0, 25), 1),
                "elevationLoss": _r(rng.uniform(0, 25), 1),
                "strideLength": _r(speed * 100.0 / (160.0 + (speed - 2.2) * 12) * 60, 1),
                "averageSpeed": speed,
                "avgGradeAdjustedSpeed": _r(speed * rng.uniform(0.98, 1.04), 4),
            }
        )
        t += duration

    # Per-sample series, laid lap by lap on a 2 s grid.
    n = int(t // SAMPLE_S)
    ends = np.cumsum([lap["duration"] for lap in laps])
    sec = np.arange(n, dtype=np.float64) * SAMPLE_S
    lap_of = np.minimum(np.searchsorted(ends, sec, side="right"), len(laps) - 1)
    lap_speed = np.array([lap["averageSpeed"] for lap in laps])[lap_of]
    lap_hr = np.array([lap["averageHR"] for lap in laps])[lap_of]
    speed = np.round(lap_speed + rng.normal(0, 0.05, n), 3)
    drift = np.linspace(0.0, rng.uniform(2, 9), n)
    hr = np.round(lap_hr + drift + np.cumsum(rng.normal(0, 0.3, n)).clip(-6, 6), 0)
    cadence = np.round(160.0 + (speed - 2.2) * 12 + rng.normal(0, 1.5, n), 0)
    power = np.round(190.0 + speed * 30 + rng.normal(0, 6, n), 0)
    gct = 300.0 - speed * 18 + rng.normal(0, 3, n)
    vo_mm = 85.0 + rng.normal(0, 2.5, n)
    vr = 7.5 + rng.normal(0, 0.2, n)
    elev_cm = np.round((120.0 + np.cumsum(rng.normal(0, 0.15, n))) * 100.0, 0)
    # Sustained anomaly islands: 4-7 consecutive samples (8-14 s).
    n_islands = int(rng.integers(1, 4))
    for _ in range(n_islands):
        start = int(rng.integers(n // 10, n - n // 10))
        span = slice(start, start + int(rng.integers(4, 8)))
        gct[span] += ANOMALY_OFFSETS["ground_contact_time"]
        vo_mm[span] += ANOMALY_OFFSETS["vertical_oscillation"] * 10.0
        vr[span] += ANOMALY_OFFSETS["vertical_ratio"]
        elev_cm[span] += 800.0
    raw = {
        "sumDuration": sec,
        "directHeartRate": hr,
        "directSpeed": speed,
        "directDoubleCadence": cadence,
        "directPower": power,
        "directGroundContactTime": np.round(gct, 1),
        "directVerticalOscillation": np.round(vo_mm, 1),
        "directVerticalRatio": np.round(vr, 2),
        "directElevation": elev_cm,
    }

    total_km = sum(lap["distance"] for lap in laps) / 1000.0
    total_s = sum(lap["duration"] for lap in laps)
    summary = {
        "activity_id": activity_id,
        "activity_date": day,
        "activity_name": "Interval Run" if interval else "Morning Run",
        "training_type": "vo2max" if interval else ("tempo" if base_pace < 300 else "aerobic_base"),
        "total_distance_km": _r(total_km, 3),
        "total_time_seconds": int(round(total_s)),
        "avg_speed_ms": _r(total_km * 1000.0 / total_s, 4),
        "avg_pace_seconds_per_km": _r(total_s / total_km, 2),
        "avg_heart_rate": int(np.mean([lap["averageHR"] for lap in laps])),
        "max_heart_rate": int(max(lap["maxHR"] for lap in laps)),
        "temp_celsius": _r(rng.uniform(0, 32), 1),
        "base_weight_kg": _r(rng.uniform(60, 70), 1),
    }
    hr_bounds = [100, 120, 140, 155, 170]
    zone_secs = np.histogram(hr, bins=hr_bounds + [250])[0] * float(SAMPLE_S)
    zones = [
        {"zoneNumber": z + 1, "zoneLowBoundary": hr_bounds[z], "secsInZone": float(zone_secs[z])}
        for z in range(5)
    ]
    return {"summary": summary, "laps": laps, "raw": raw, "zones": zones}


# -- silver rows (what the ingest glue derives from the raw JSON) --------


def silver_activity(act: dict) -> pa.Table:
    return pa.Table.from_pylist([act["summary"]])


def silver_splits(act: dict) -> pa.Table:
    laps = act["laps"]
    cols = {"activity_id": pa.array([act["summary"]["activity_id"]] * len(laps), pa.int64())}
    for raw, silver in LAP_RENAMES.items():
        cols[silver] = [lap[raw] for lap in laps]
    cols["distance"] = [lap["distance"] / 1000.0 for lap in laps]
    cols["pace_seconds_per_km"] = [1000.0 / lap["averageSpeed"] for lap in laps]
    cols["activity_date"] = [act["summary"]["activity_date"]] * len(laps)
    return pa.table(cols)


def silver_hr_zones(act: dict) -> pa.Table:
    zones = act["zones"]
    return pa.table(
        {
            "activity_id": pa.array([act["summary"]["activity_id"]] * len(zones), pa.int64()),
            "zone_number": pa.array([z["zoneNumber"] for z in zones], pa.int32()),
            "zone_low_boundary": pa.array([z["zoneLowBoundary"] for z in zones], pa.int32()),
            "time_in_zone_seconds": [z["secsInZone"] for z in zones],
            "activity_date": [act["summary"]["activity_date"]] * len(zones),
        }
    )


def silver_time_series(act: dict) -> pa.Table:
    raw = act["raw"]
    n = len(raw["sumDuration"])
    cols = {
        "activity_id": np.full(n, act["summary"]["activity_id"], dtype=np.int64),
        "seq_no": np.arange(n, dtype=np.int32),
    }
    for key, (col, factor) in METRICS.items():
        cols[col] = raw[key] * factor
    cols["activity_date"] = pa.array(
        np.full(n, np.datetime64(act["summary"]["activity_date"], "D"))
    )
    return pa.table(cols)


# -- raw JSON (bronze) --------------------------------------------------


def write_raw(act: dict, root: str) -> str:
    """Write one activity's raw JSON directory; returns its path."""
    aid = act["summary"]["activity_id"]
    d = os.path.join(root, str(aid))
    os.makedirs(d, exist_ok=True)
    keys = list(METRICS)
    details = {
        "activityId": aid,
        "metricDescriptors": [
            {"metricsIndex": i, "key": k, "unit": {"id": i, "key": k, "factor": METRICS[k][1]}}
            for i, k in enumerate(keys)
        ],
        "activityDetailMetrics": [
            {"metrics": [float(act["raw"][k][s]) for k in keys]}
            for s in range(len(act["raw"]["sumDuration"]))
        ],
    }
    for name, body in (
        ("splits.json", {"lapDTOs": act["laps"]}),
        ("hr_zones.json", act["zones"]),
        ("activity_details.json", details),
    ):
        with open(os.path.join(d, name), "w") as f:
            json.dump(body, f, separators=(",", ":"))
    return d


# -- the starting store --------------------------------------------------


def start_days(seed: int) -> list[datetime.date]:
    """One run on most days; about one rest day in seven."""
    rng = _rng(seed, 1)
    days, day = [], FIRST_DAY
    while len(days) < N_ACTIVITIES:
        if rng.random() >= 1 / 7:
            days.append(day)
        day += datetime.timedelta(days=1)
    return days


def start_activities(seed: int) -> list[dict]:
    return [make_activity(seed, FIRST_ID + i, d) for i, d in enumerate(start_days(seed))]


def _side_tables(seed: int, acts: list[dict]) -> dict[str, pa.Table]:
    rng = _rng(seed, 2)
    ids = np.array([a["summary"]["activity_id"] for a in acts], dtype=np.int64)
    dates = [a["summary"]["activity_date"] for a in acts]
    n = len(acts)
    perf = pa.table(
        {
            "activity_id": ids,
            "pace_consistency": np.round(rng.uniform(0.01, 0.12, n), 4),
            "hr_drift_percentage": np.round(rng.uniform(-2, 9, n), 2),
            "fatigue_pattern": rng.choice(["steady", "fade", "negative_split"], n),
            "activity_date": dates,
        }
    )
    weather = pa.table(
        {
            "activity_id": ids,
            "temp_celsius": [a["summary"]["temp_celsius"] for a in acts],
            "relative_humidity_percent": np.round(rng.uniform(30, 90, n), 1),
            "wind_speed_kmh": np.round(rng.uniform(0, 25, n), 1),
            "wind_direction": rng.choice(["N", "NE", "E", "SE", "S", "SW", "W", "NW"], n),
            "activity_date": dates,
        }
    )
    first, last = dates[0], dates[-1]
    n_days = (last - first).days + 1
    body_days = [first + datetime.timedelta(days=int(k)) for k in range(0, n_days, 3)]
    m = len(body_days)
    body = pa.table(
        {
            "measurement_id": np.arange(m, dtype=np.int64),
            "date": body_days,
            "weight_kg": np.round(65.0 + np.cumsum(rng.normal(0, 0.15, m)).clip(-3, 3), 2),
            "body_fat_percentage": np.round(rng.uniform(12, 18, m), 1),
        }
    )
    return {"performance_trends": perf, "weather": weather, "body_composition": body}


# Per-activity silver tables -> the function deriving their rows.  The
# ingest path writes these; the others are read as generated.
SILVER_ROWS = {
    "activities": silver_activity,
    "splits": silver_splits,
    "heart_rate_zones": silver_hr_zones,
    "time_series_metrics": silver_time_series,
}

# The per-activity silver tables are month-partitioned on this column.
DATE_COL = "activity_date"


def silver_frames(seed: int, acts: list[dict] | None = None) -> dict[str, pa.Table]:
    acts = start_activities(seed) if acts is None else acts
    frames = {
        name: pa.concat_tables([fn(a) for a in acts])
        for name, fn in SILVER_ROWS.items()
    }
    frames.update(_side_tables(seed, acts))
    return frames


def write_staging(seed: int, root: str) -> dict[str, str]:
    """Write the starting silver rows as one parquet file per table
    (the benchmark's input; the program builds silver from it).
    Returns table -> file path."""
    os.makedirs(root, exist_ok=True)
    paths = {}
    for name, df in silver_frames(seed).items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(df, path)
        paths[name] = path
    return paths


# -- the ingest sequence -------------------------------------------------


def ingest_plan(seed: int, k: int) -> tuple[int, datetime.date, int]:
    """The ``k``-th ingest of the sequence: ``(activity_id, date,
    variant)``.  Every other ingest, the first included, re-syncs an old
    activity (a corrected version, into its old month); the others are
    new runs, synced late onto days already in the store (a second run
    that day).  Both kinds land in a month from the middle half of the
    store, so every seed rewrites an existing, full month partition."""
    rng = _rng(seed, 3, k)
    days = start_days(seed)
    if k % 2 == 0:
        i = int(rng.integers(N_ACTIVITIES // 4, 3 * N_ACTIVITIES // 4))
        return FIRST_ID + i, days[i], 1 + k
    new_index = k // 2
    return (
        FIRST_ID + N_ACTIVITIES + new_index,
        days[N_ACTIVITIES // 2 + new_index % (N_ACTIVITIES // 4)],
        0,
    )


def ingest_activity(seed: int, k: int) -> dict:
    aid, day, variant = ingest_plan(seed, k)
    return make_activity(seed, aid, day, variant)
