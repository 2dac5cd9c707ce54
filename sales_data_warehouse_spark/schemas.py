"""Schema registry for every table in the warehouse (SURVEY.md §1).

The reference declares DDL inline in its procedures; here every stage has
one explicit ``StructType`` so ingest is schema-on-write at the *landing*
boundary (all-string, mirroring the reference's all-TEXT staging,
``Import.sql:15-22``) and typed from ``cleansed`` onward
(``Import.sql:68-79``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Raw CSV columns in file order (reference ``Sales_January_2019.csv`` header).
RAW_CSV_COLUMNS = [
    "Order ID",
    "Product",
    "Quantity Ordered",
    "Price Each",
    "Order Date",
    "Purchase Address",
]

#: Canonical landing column names (snake_case of the CSV header).
LANDING_COLUMNS = [
    "order_id",
    "product",
    "quantity_ordered",
    "price_each",
    "order_date",
    "purchase_address",
]

# All-TEXT landing: malformed rows must survive ingest so typed conversion
# can route them to `invalid` (reference Import.sql:15-22).
LANDING_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in LANDING_COLUMNS]
)

# invalid keeps the raw (string) row plus the rejection reason — a strict
# superset of the reference's `invalid` table (Import.sql:32-39), which
# keeps no reason.
INVALID_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), True) for c in LANDING_COLUMNS]
    + [T.StructField("reject_reason", T.StringType(), True)]
)

# Typed order-line (reference Import.sql:68-79; order_date modeled as DATE
# outright per quirk Q1 — the reference casts away time-of-day).
CLEANSED_SCHEMA = T.StructType(
    [
        T.StructField("order_id", T.IntegerType(), True),
        T.StructField("product", T.StringType(), True),
        T.StructField("quantity_ordered", T.IntegerType(), True),
        T.StructField("price_each", T.DecimalType(10, 2), True),
        T.StructField("order_date", T.DateType(), True),
        T.StructField("street", T.StringType(), True),
        T.StructField("city", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("postal", T.StringType(), True),
    ]
)

# SCD Type-2 product dimension (reference ProductDimension.sql:42-49).
PRODUCT_DIMENSION_SCHEMA = T.StructType(
    [
        T.StructField("product_id", T.StringType(), True),
        T.StructField("product_name", T.StringType(), True),
        T.StructField("price_each", T.DecimalType(10, 2), True),
        T.StructField("last_update_date", T.DateType(), True),
        T.StructField("active_status", T.StringType(), True),
        T.StructField("action_flag", T.StringType(), True),
    ]
)

# Denormalized calendar (reference TimeDimension.sql:89-101).
TIME_DIMENSION_SCHEMA = T.StructType(
    [
        T.StructField("time_id", T.StringType(), True),
        T.StructField("time_desc", T.DateType(), True),
        T.StructField("week_id", T.StringType(), True),
        T.StructField("week_desc", T.StringType(), True),
        T.StructField("month_id", T.StringType(), True),
        T.StructField("month_desc", T.StringType(), True),
        T.StructField("quarter_id", T.StringType(), True),
        T.StructField("quarter_desc", T.StringType(), True),
        T.StructField("half_year_id", T.StringType(), True),
        T.StructField("half_year_desc", T.StringType(), True),
        T.StructField("year_id", T.StringType(), True),
        T.StructField("year_desc", T.StringType(), True),
    ]
)

# street -> city -> state hierarchy flattened (LocationDimension.sql:62-73).
LOCATION_DIMENSION_SCHEMA = T.StructType(
    [
        T.StructField("location_id", T.StringType(), True),
        T.StructField("street_id", T.StringType(), True),
        T.StructField("street_name", T.StringType(), True),
        T.StructField("city_id", T.StringType(), True),
        T.StructField("city_name", T.StringType(), True),
        T.StructField("state_id", T.StringType(), True),
        T.StructField("state_name", T.StringType(), True),
        T.StructField("postal", T.StringType(), True),
        T.StructField("full_address", T.StringType(), True),
    ]
)

# Fully denormalized fact (FactTable.sql:78-110).
FACT_SCHEMA = T.StructType(
    [
        T.StructField("time_id", T.StringType(), True),
        T.StructField("product_id", T.StringType(), True),
        T.StructField("product", T.StringType(), True),
        T.StructField("price_each", T.DecimalType(10, 2), True),
        T.StructField("quantity_ordered", T.IntegerType(), True),
        T.StructField("order_date", T.DateType(), True),
        T.StructField("week_id", T.StringType(), True),
        T.StructField("month_id", T.StringType(), True),
        T.StructField("quarter_id", T.StringType(), True),
        T.StructField("half_year_id", T.StringType(), True),
        T.StructField("year_id", T.StringType(), True),
        T.StructField("location_id", T.StringType(), True),
        T.StructField("street_name", T.StringType(), True),
        T.StructField("street_id", T.StringType(), True),
        T.StructField("city_name", T.StringType(), True),
        T.StructField("city_id", T.StringType(), True),
        T.StructField("state_name", T.StringType(), True),
        T.StructField("state_id", T.StringType(), True),
        T.StructField("postal", T.StringType(), True),
    ]
)


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A table of ``schema`` with no rows, in a plan Catalyst knows is
    empty: ``limit(0)`` optimizes to an empty ``LocalRelation`` of size
    0, where the bare ``createDataFrame([], schema)`` is an RDD scan of
    unknown size that a join against it would shuffle."""
    return spark.createDataFrame([], schema).limit(0)
