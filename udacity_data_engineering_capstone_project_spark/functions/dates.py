"""Date scalar functions (reference: F5-F7, SURVEY.md §2.3).

The reference's only UDF is the SAS-date decoder (`etl.py:41-47`), a
row-at-a-time Python UDF — an optimization barrier (no codegen, no
pushdown across it, JVM<->Python serialization per row). We express it
natively so it stays inside whole-stage codegen; null-in -> null-out is
preserved because `date_add` propagates nulls exactly like the UDF's
`None` branch (`etl.py:45`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: SAS epoch: dates are stored as days since 1960-01-01.
SAS_EPOCH = "1960-01-01"


def sas_date_to_date(days: Column | str) -> Column:
    """Decode a SAS date (double days-since-1960-01-01) to a DATE.

    Native replacement for the reference UDF `sasDateToDatetime`
    (`etl.py:41-47`): `date_add(DATE'1960-01-01', int(days))`,
    null-safe, codegen-friendly.
    """
    c = F.col(days) if isinstance(days, str) else days
    return F.date_add(F.to_date(F.lit(SAS_EPOCH)), c.cast("int"))


def with_date_parts(
    df: DataFrame, date_col: str, prefix: str = ""
) -> DataFrame:
    """Add day-of-month / month / year columns (reference `etl.py:105-107,
    132-134`). Prefix matches the reference's `arrdate_*` naming."""
    c = F.col(date_col)
    return df.withColumns({
        f"{prefix}dayofmonth": F.dayofmonth(c),
        f"{prefix}month": F.month(c),
        f"{prefix}year": F.year(c),
    })
