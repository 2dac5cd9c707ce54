"""Time dimension: calendar spine + denormalized hierarchy.

Reference: ``TimeDimension.sql:2-259`` — min/max order date (:45-46), a
``generate_series`` date spine (:49-50), a procedural loop assigning
hierarchy ids with mutable counters at boundaries (:103-205), and a 5-way
join denormalizing day->week->month->quarter->half->year (:208-256).

Spark-first: the whole dimension is a *pure function of the date range*.
Every hierarchy id derives from date arithmetic (no iteration-order
counters — rationalizes quirks Q2/Q3/Q7), so the spine is one exploded
date sequence over a 1-row min/max aggregate and the hierarchy needs no
joins at all: the 5-way hierarchy join collapses into per-row expressions
because the parent of a day is computable from the day itself.

Id scheme (documented rationalization of reference formats):
  time_id      D + yyyyMMdd            (Q2: reference's 'YYYYDDMM' is a bug)
  week_id      W + iso-week(2) + yy
  month_id     M + MM + yy             (reference 'MMYY')
  quarter_id   Q + q + yy              (reference 'QYY')
  half_year_id H + {1,2} + yyyy        (Q3: reference 'YYYY-HH' is a bug)
  year_id      Y + yyyy
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _calendar(dates: DataFrame) -> DataFrame:
    """Every day in [min(d), max(d)] of a one-column frame of dates ``d``
    — the reference's min/max + ``generate_series`` (``TimeDimension.sql:
    45-50``, F10) as ``explode(sequence(lo, hi))`` over a 1-row
    aggregate. The bounds stay inside the plan, so building a calendar
    submits no Spark job; with no dates the bounds are null, the
    sequence is null and the calendar is empty."""
    bounds = dates.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("time_desc")
    )
    return with_time_hierarchy(spine)


def build_time_dimension(cleansed: DataFrame) -> DataFrame:
    """Calendar covering [min(order_date), max(order_date)] inclusive
    (reference ``TimeDimension.sql:45-50``) — on the reference CSV that
    yields 32 days (2019-01-01..2019-02-01). A ``cleansed`` frame with
    no rows yields an empty dimension.
    """
    return _calendar(cleansed.select(F.col("order_date").alias("d")))


def merge_time_dimension(
    existing: DataFrame, cleansed_new: DataFrame
) -> DataFrame:
    """Incremental 'merge': rebuild the calendar over the union range.

    Every time id is a pure function of the date (no counters survive
    from the reference's loop — rationalized Q2/Q3), so a rebuild over
    [min(old, new), max(old, new)] reproduces existing rows bit-for-bit
    and is calendar-sized — the one dimension where rebuild IS the
    cheapest stable merge.
    """
    return _calendar(
        existing.select(F.col("time_desc").alias("d")).unionByName(
            cleansed_new.select(F.col("order_date").alias("d"))
        )
    )


def with_time_hierarchy(spine: DataFrame) -> DataFrame:
    """Attach the full denormalized hierarchy to a ``time_desc`` date col."""
    d = F.col("time_desc")
    yy = F.date_format(d, "yy")
    yyyy = F.date_format(d, "yyyy")
    # ISO week + ISO week-year keep W53 weeks consistent across Jan 1.
    iso_week = F.lpad(F.weekofyear(d).cast("string"), 2, "0")
    month2 = F.date_format(d, "MM")
    quarter = F.quarter(d).cast("string")
    half = F.when(F.month(d) <= 6, F.lit("1")).otherwise(F.lit("2"))

    return spine.select(
        F.concat(F.lit("D"), F.date_format(d, "yyyyMMdd")).alias("time_id"),
        d.alias("time_desc"),
        F.concat(F.lit("W"), iso_week, yy).alias("week_id"),
        F.concat(F.lit("Week "), iso_week, F.lit(" "), yyyy).alias("week_desc"),
        F.concat(F.lit("M"), month2, yy).alias("month_id"),
        F.concat(F.date_format(d, "MMMM"), F.lit(" "), yyyy).alias("month_desc"),
        F.concat(F.lit("Q"), quarter, yy).alias("quarter_id"),
        F.concat(F.lit("Q"), quarter, F.lit(" "), yyyy).alias("quarter_desc"),
        F.concat(F.lit("H"), half, yyyy).alias("half_year_id"),
        F.concat(F.lit("H"), half, F.lit(" "), yyyy).alias("half_year_desc"),
        F.concat(F.lit("Y"), yyyy).alias("year_id"),
        yyyy.alias("year_desc"),
    )
