"""Cleansing & normalization (SURVEY P2/P3/F1-F7/Q1/Q9/Q10).

Reference: ``Cleansing.sql:2-128`` — a cursor walks ``to_process`` row by
row, NULL-checks (-> ``invalid``), assigns missing order ids, splits the
purchase address, and casts with a per-row ``EXCEPTION`` handler that
routes cast failures to ``invalid``; finally the survivors are rewritten
through a full-row ``DISTINCT``.

Spark-first re-expression: the row-at-a-time queue becomes one set-based
split. With ANSI mode off, casts return NULL instead of throwing, so
"cast failed" is exactly ``typed IS NULL AND raw IS NOT NULL`` — the whole
cleanse is a single codegen'd projection + two filters, no Python in the
loop, and it scales to any number of partitions with zero shuffles until
the final distinct.
"""

from __future__ import annotations

import functools
import operator as pyop

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.schemas import LANDING_COLUMNS

#: Columns whose NULLness rejects a row (reference Cleansing.sql:37-40).
REQUIRED_RAW = [
    "product",
    "quantity_ordered",
    "price_each",
    "order_date",
    "purchase_address",
]

#: Raw timestamp layout in the sales CSV: ``01/22/19 21:25``
#: (reference Cleansing.sql:78 uses the PG pattern 'MM-DD-YY HH24:MI',
#: which PG laxly applies across '/' separators; Spark patterns are strict
#: so we use the actual separator).
ORDER_DATE_FORMAT = "MM/dd/yy HH:mm"


def _split_address(col: Column) -> dict[str, Column]:
    """Parse ``"944 Walnut St, Boston, MA 02215"`` -> street/city/state/postal.

    Reference ``Cleansing.sql:64-68`` uses nested SPLIT_PART + TRIM; the
    state segment is ``" MA 02215"`` -> space-split into state and postal.
    """
    street = F.trim(F.split_part(col, F.lit(","), F.lit(1)))
    city = F.trim(F.split_part(col, F.lit(","), F.lit(2)))
    state_zip = F.trim(F.split_part(col, F.lit(","), F.lit(3)))
    state = F.split_part(state_zip, F.lit(" "), F.lit(1))
    postal = F.split_part(state_zip, F.lit(" "), F.lit(2))
    # Postgres SPLIT_PART returns '' (not NULL) for missing parts; normalize
    # so malformed addresses produce empty strings like the reference.
    return {
        "street": F.coalesce(street, F.lit("")),
        "city": F.coalesce(city, F.lit("")),
        "state": F.coalesce(state, F.lit("")),
        "postal": F.coalesce(postal, F.lit("")),
    }


def _split_rejects(landing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The reject rule shared by the batch and the streaming cleanse:
    NULL in a required column -> ``null_required_field``, else any cast
    failure -> ``cast_failure``. Returns (valid, invalid): ``valid``
    keeps the landing columns plus the typed ``_order_id``,
    ``_quantity``, ``_price`` and ``_ts``; ``invalid`` is the raw
    rejected rows plus ``reject_reason``. One projection and two
    filters, no state and no shuffle, so it runs on a stream as is."""
    null_any = functools.reduce(
        pyop.or_, (F.col(c).isNull() for c in REQUIRED_RAW)
    )

    typed = landing.withColumns(
        {
            "_order_id": F.col("order_id").cast("int"),
            "_quantity": F.col("quantity_ordered").cast("int"),
            "_price": F.col("price_each").cast("decimal(10,2)"),
            "_ts": F.to_timestamp(F.col("order_date"), ORDER_DATE_FORMAT),
        }
    )

    cast_failed = (
        (F.col("_quantity").isNull() & F.col("quantity_ordered").isNotNull())
        | (F.col("_price").isNull() & F.col("price_each").isNotNull())
        | (F.col("_ts").isNull() & F.col("order_date").isNotNull())
        # order_id may be legitimately NULL (Q10) but if present must cast
        | (F.col("_order_id").isNull() & F.col("order_id").isNotNull())
    )

    reason = (
        F.when(null_any, F.lit("null_required_field"))
        .when(cast_failed, F.lit("cast_failure"))
        .otherwise(F.lit(None))
    )
    flagged = typed.withColumn("_reject", reason)

    invalid = flagged.filter(F.col("_reject").isNotNull()).select(
        *LANDING_COLUMNS, F.col("_reject").alias("reject_reason")
    )
    return flagged.filter(F.col("_reject").isNull()), invalid


def cleanse(landing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split landing rows into (cleansed, invalid).

    Returns
    -------
    cleansed : typed, deduplicated order lines (CLEANSED_SCHEMA)
    invalid  : raw rejected rows + ``reject_reason``

    Semantics matched to the reference:
      * NULL in any required column -> invalid (P2, Cleansing.sql:37-40)
      * any cast failure -> invalid (P3, Cleansing.sql:64-106); repeated
        header rows land here ("Product" fails the qty/price/date casts)
      * missing order_id on an otherwise-valid row -> ``max(order_id)+n``
        (Q10, Cleansing.sql:56-61)
      * order_date time-of-day discarded -> DateType (Q1, Cleansing.sql:78)
      * full-row DISTINCT at the end (Q9/A5, Cleansing.sql:118-122)
    """
    valid, invalid = _split_rejects(landing)

    # Q10: rows with NULL order_id get max(order_id) + running number.
    # The scalar max broadcasts as a 1-row subplan; row_number only runs
    # over the (tiny) null-id subset, so no global shuffle of the data.
    max_id = valid.agg(
        F.coalesce(F.max("_order_id"), F.lit(0)).alias("m")
    )
    null_ids = valid.filter(F.col("_order_id").isNull())
    assigned = (
        null_ids.crossJoin(F.broadcast(max_id))
        .withColumn(
            "_order_id",
            F.col("m")
            + F.row_number().over(
                # deterministic ordering for the assigned ids (Q7 policy)
                Window.orderBy("product", "order_date", "purchase_address")
            ),
        )
        .drop("m")
    )
    valid = valid.filter(F.col("_order_id").isNotNull()).unionByName(assigned)

    addr = _split_address(F.col("purchase_address"))
    cleansed = (
        valid.select(
            F.col("_order_id").alias("order_id"),
            F.trim(F.col("product")).alias("product"),
            F.col("_quantity").alias("quantity_ordered"),
            F.col("_price").alias("price_each"),
            # Q1: day grain — time-of-day intentionally discarded.
            F.col("_ts").cast("date").alias("order_date"),
            addr["street"].alias("street"),
            addr["city"].alias("city"),
            addr["state"].alias("state"),
            addr["postal"].alias("postal"),
        )
        # Q9: full-row distinct — rows differing only in order_id survive.
        .dropDuplicates()
    )
    return cleansed, invalid
