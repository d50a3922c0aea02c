#!/usr/bin/env python
"""Strict oracle parity for an explicit list of catalog entries in ONE
session (check_parity.py pays a fresh Spark+DuckDB startup per
name_filter invocation; a touched-entry sweep after an optimization
shouldn't).

Usage: python scripts/parity_subset.py <sf_dir> name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from garmin_performance_analysis_spark.harness.catalog import CATALOG  # noqa: E402
from garmin_performance_analysis_spark.harness.compare import (  # noqa: E402
    compare_frames,
    duckdb_connection,
)
from garmin_performance_analysis_spark.session import get_spark  # noqa: E402


def main() -> int:
    if len(sys.argv) < 3:
        raise SystemExit(__doc__)
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        raise SystemExit(f"not in catalog: {unknown}")
    spark = get_spark("parity-subset")
    con = duckdb_connection(sf_dir)
    failures = 0
    for name in names:
        spec = CATALOG[name]
        if spec.oracle is None:
            print(f"skip  {name}: rows-only, no oracle")
            continue
        t0 = time.time()
        spark_pdf = spec.fn(spark, sf_dir).toPandas()
        oracle_pdf = con.sql(spec.oracle).df()
        res = compare_frames(name, spark_pdf, oracle_pdf, strict=True)
        status = "ok  " if res.ok else "FAIL"
        print(
            f"{status}  {name}: spark={res.spark_rows} oracle={res.oracle_rows}"
            f" {res.detail or ''} ({time.time() - t0:.1f}s)"
        )
        failures += 0 if res.ok else 1
    print(f"{len(names)} run, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
