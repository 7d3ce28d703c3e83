"""F7/F9/F11/F12 — timestamp parsing and the date hierarchy
(src/transform.py:102-103, :145-146; PBIX auto date hierarchy).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..operators.hashing import md5_long


def parse_timestamp(col: Column | str) -> Column:
    """F7 — pd.to_datetime(errors='coerce'): NULL on failure.
    try_to_timestamp, because Spark 4's default ANSI mode makes
    to_timestamp throw on unparseable input."""
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c)


def year_of(col: Column | str) -> Column:
    """F9 — derived job_posted_year (src/transform.py:145-146)."""
    return F.year(F.col(col) if isinstance(col, str) else col)


def month_of(col: Column | str) -> Column:
    """F12 — Month level of the BI date hierarchy."""
    return F.month(F.col(col) if isinstance(col, str) else col)


def day_of(col: Column | str) -> Column:
    """F12 — Day level of the BI date hierarchy."""
    return F.dayofmonth(F.col(col) if isinstance(col, str) else col)


def business_hours_seconds(key: Column) -> Column:
    """F11's 'random business-hours time', made deterministic: a
    seconds offset in [0, 50400) (09:00-22:59 window) hashed from a
    row key. The reference draws random.randint times at extract
    (src/data_extract.py:217-225); verification bans RNG, so the time
    is a pure function of the row — stable across runs and engines."""
    return (md5_long(key.cast("string")) % F.lit(50400)).cast("long")


def stamp_business_hours(date_col: Column, key: Column) -> Column:
    """F11 — date + hash-derived business-hours time as a timestamp."""
    t = business_hours_seconds(key)
    hour = (F.lit(9) + F.floor(t / 3600)).cast("int")
    minute = (F.floor(t / 60) % 60).cast("int")
    second = (t % 60).cast("int")
    return F.make_timestamp(
        F.year(date_col), F.month(date_col), F.dayofmonth(date_col),
        hour, minute, second.cast("double"),
    )
