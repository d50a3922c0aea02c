#!/usr/bin/env python
"""Run every catalog query against its DuckDB oracle and report parity.

Usage: python scripts/check_parity.py [--strict] [--window N]
           [--stalest N] [sf_dir] [name_filter]
       python scripts/check_parity.py --staleness

--strict uses the driver-faithful comparator: dtype-sensitive cells
(int64 271 != float64 271.0) and full-precision floats — the mode that
would have caught the round-4 e7/d10/t8 oracle-typing failures.

--staleness reads CORRECTNESS_r*.json and prints, per catalog entry,
the latest round with a driver row (or "never"), grouped stalest-first —
the generated source of truth for each round's rotation pad.

--stalest N sweeps the N entries with the OLDEST driver evidence that
are NOT in the current 50-entry window (the window re-proves itself
this round) — the per-round re-soak that caps evidence age when the
catalog outgrows the window (VERDICT r10 item 4).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garmin_performance_analysis_spark.harness.catalog import CATALOG, WINDOW
from garmin_performance_analysis_spark.harness.compare import (
    compare_frames,
    duckdb_connection,
)
from garmin_performance_analysis_spark.session import get_spark


def _latest_driver_rounds() -> dict[str, int]:
    """name -> latest round with a PASSING driver row (rows+schema,
    hash too when present); errored rows do not count as coverage."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            ok = (
                bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") is not False
            )
            if ok and rnd > latest.get(name, -1):
                latest[name] = rnd
    return latest


def staleness_report() -> int:
    """Per catalog entry: latest round with a driver correctness row.

    Groups entries stalest-first so a rotation pad can cite this output
    instead of hand-tracked history.
    """
    latest = _latest_driver_rounds()
    by_round: dict[int, list[str]] = {}
    for name in CATALOG:
        by_round.setdefault(latest.get(name, 0), []).append(name)
    for rnd in sorted(by_round):
        names = sorted(by_round[rnd])
        label = "never" if rnd == 0 else f"r{rnd}"
        print(f"{label} ({len(names)}):")
        for n in names:
            print(f"  {n}")
    orphans = sorted(set(latest) - set(CATALOG))
    if orphans:
        print(f"driver rows for names no longer in catalog ({len(orphans)}): {orphans}")
    return 0


def main() -> int:
    if "--staleness" in sys.argv[1:]:
        return staleness_report()
    argv = [a for a in sys.argv[1:] if a != "--strict"]
    strict = "--strict" in sys.argv[1:]
    window = 0  # 0 = no limit; --window N sweeps the first N entries
    if "--window" in argv:
        i = argv.index("--window")
        window = int(argv[i + 1])
        del argv[i : i + 2]
    stalest = 0  # --stalest N sweeps the N oldest-evidence non-window entries
    if "--stalest" in argv:
        i = argv.index("--stalest")
        stalest = int(argv[i + 1])
        del argv[i : i + 2]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.001"
    name_filter = argv[1] if len(argv) > 1 else ""
    spark = get_spark("parity-check")
    con = duckdb_connection(sf_dir)
    failures = 0
    n_run = 0
    items = list(CATALOG.items())
    if window:
        items = items[:window]
    elif stalest:
        latest = _latest_driver_rounds()
        in_window = set(WINDOW)
        candidates = sorted(
            (n for n in CATALOG if n not in in_window),
            key=lambda n: (latest.get(n, 0), n),
        )[:stalest]
        picked = set(candidates)
        items = [(n, s) for n, s in items if n in picked]
        print(f"re-soaking the {len(items)} stalest non-window entries: "
              f"{[n for n, _ in items]}")
    for name, spec in items:
        if name_filter and name_filter not in name:
            continue
        n_run += 1
        t0 = time.time()
        try:
            spark_pdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if spec.oracle is None:
            print(f"skip  {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            oracle_pdf = con.sql(spec.oracle).df()
        except Exception as e:  # noqa: BLE001
            # A long-lived connection sporadically hits DuckDB "Out of
            # Memory" after ~200 oracle runs even with 124 GB free
            # (allocator accumulation — observed on t5/d3, always
            # passing on a fresh connection).  Retry ONCE fresh; a
            # real oracle error reproduces and still fails.
            try:
                con.close()
            except Exception:  # noqa: BLE001
                pass
            con = duckdb_connection(sf_dir)
            try:
                oracle_pdf = con.sql(spec.oracle).df()
                print(f"note  {name}: oracle retried on a fresh connection after: {e}")
            except Exception as e2:  # noqa: BLE001
                print(f"FAIL  {name}: oracle error: {e2}")
                failures += 1
                continue
        res = compare_frames(name, spark_pdf, oracle_pdf, strict=strict)
        status = "ok  " if res.ok else "FAIL"
        print(
            f"{status}  {name}: spark={res.spark_rows} oracle={res.oracle_rows}"
            f" ({time.time()-t0:.1f}s) {res.detail}"
        )
        if not res.ok:
            failures += 1
    print(f"\n{n_run} of {len(CATALOG)} queries run, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
