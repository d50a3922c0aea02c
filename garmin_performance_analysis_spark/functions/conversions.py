"""Unit conversions (SURVEY.md §2.8 F6) as column expressions.

Reference: ``M:SS`` pace formatting ``mcp/analysis/derivations.py:25-35``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pace_str(pace_s_per_km: Column) -> Column:
    """Format seconds/km as ``M:SS`` (e.g. 305.4 → "5:05")."""
    total = F.round(pace_s_per_km).cast("long")
    mins = (total / 60).cast("long")
    secs = total % 60
    return F.when(
        pace_s_per_km.isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(mins, F.lit(":"), F.lpad(secs.cast("string"), 2, "0")))
