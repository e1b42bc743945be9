"""Trading-calendar dimension (S4).

The reference derives NYSE trading days from pandas_market_calendars
(src/extract_load_stocks.py:13-18, 41-47). Holiday calendars are data,
not code: the builder takes an explicit holiday list (the NYSE fixed
dates for the simulated window) and generates weekday rows driver-side
— a few-KB dimension that joins/broadcasts against anything.
"""

from __future__ import annotations

from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from ..session import local_frame

CALENDAR_SCHEMA = StructType([StructField("cal_date", DateType())])


def trading_days(spark: SparkSession, start: date, end: date,
                 holidays: list[date] | None = None) -> DataFrame:
    """Mon-Fri dates in [start, end] minus ``holidays``, as a 1-column
    dimension DataFrame."""
    hol = set(holidays or [])
    days = []
    d = start
    while d <= end:
        if d.weekday() < 5 and d not in hol:
            days.append((d,))
        d += timedelta(days=1)
    return local_frame(spark, days, CALENDAR_SCHEMA)


def last_completed_trading_day(cal: DataFrame, as_of) -> DataFrame:
    """1-row frame with the latest trading day <= as_of (the daily
    mode's target date, src/extract_load_stocks.py:41-47)."""
    return (cal.where(F.col("cal_date") <= F.lit(as_of))
            .agg(F.max("cal_date").alias("target_date")))
