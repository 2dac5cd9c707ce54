"""Location dimension: street -> city -> state hierarchy.

Reference: ``LocationDimension.sql:2-184`` — a cursor over ``cleansed``
probes three staging tables per row, inserting first-seen keys with
``COUNT(*)+1`` surrogate ids (:84-132, an O(n*m) anti-pattern), renames the
link columns (:137-147), then a 3-way join + ROW_NUMBER produces
``location_dimension`` (:150-180).

Spark-first: one merge numbers every level (SURVEY J11/A3/W2). An
anti-join finds the unseen addresses; a level key the dimension already
holds keeps its id, and new keys are numbered past the level's maximum
in natural-key order (``dense_rank`` for states and cities,
``row_number`` for streets and locations), so no hierarchy join remains.
A full build is the merge into an empty dimension. Quirk Q8 is
load-bearing and replicated: the state level is keyed on (state,
postal), so multi-zip states produce one row per zip. Quirk Q7
(scan-order ids) is rationalized to a deterministic natural-key
ordering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.functions.expressions import padded_id
from sales_data_warehouse_spark.schemas import (
    LOCATION_DIMENSION_SCHEMA,
    empty_frame,
)


def merge_location_dimension(
    existing: DataFrame, cleansed_new: DataFrame
) -> DataFrame:
    """Incremental merge with append-stable ids (the reference cursor's
    first-seen semantics, ``LocationDimension.sql:84-132``): existing
    rows keep their ids verbatim; unseen addresses get fresh ids
    continuing after each level's current maximum, in natural-key order.

    A full rebuild would renumber everything whenever a new address
    sorts before an old one — fine for the reference's drop-and-rebuild
    model, fatal for any consumer that stored location_id. The merge
    works at dimension scale only (row_number over *new* keys), never
    rescanning old facts.
    """
    new_addr = cleansed_new.select(
        "street", "city", "state", "postal"
    ).dropDuplicates()
    unseen = new_addr.join(
        existing.select(
            F.col("street_name").alias("street"),
            F.col("city_name").alias("city"),
            F.col("state_name").alias("state"),
            "postal",
        ),
        on=["street", "city", "state", "postal"],
        how="left_anti",
    )

    # The four level maxima as ONE 1-row aggregate, broadcast into the
    # appended rows: the id numbering stays inside the plan, so building
    # the merge submits no Spark job.
    maxima = existing.agg(
        *[
            F.coalesce(
                F.max(F.substring(id_col, len(prefix) + 1, 10).cast("int")),
                F.lit(0),
            ).alias(f"__max_{id_col}")
            for prefix, id_col in (
                ("SA", "state_id"),
                ("C", "city_id"),
                ("S", "street_id"),
                ("L", "location_id"),
            )
        ]
    )

    def _next(prefix: str, id_col: str, width: int, rn: F.Column) -> F.Column:
        # continue after the existing max numeric suffix for this level
        return padded_id(prefix, rn + F.col(f"__max_{id_col}"), width)

    # level ids for unseen keys: reuse an existing level id when the
    # level key is already known, else mint the next one
    state_lvl = existing.select(
        F.col("state_name").alias("state"), "postal", "state_id"
    ).dropDuplicates(["state", "postal"])
    city_lvl = existing.select(
        F.col("city_name").alias("city"),
        F.col("state_name").alias("state"),
        "postal",
        "city_id",
    ).dropDuplicates(["city", "state", "postal"])

    w_new = Window.orderBy("street", "city", "state", "postal")
    appended = (
        unseen.join(F.broadcast(state_lvl), ["state", "postal"], "left")
        .join(F.broadcast(city_lvl), ["city", "state", "postal"], "left")
        .crossJoin(F.broadcast(maxima))
        .withColumn("__rn", F.row_number().over(w_new))
        .withColumn(
            "state_id",
            F.coalesce(
                "state_id",
                _next(
                    "SA",
                    "state_id",
                    3,
                    F.dense_rank().over(
                        Window.orderBy(
                            F.when(F.col("state_id").isNull(), 0).otherwise(1),
                            "state",
                            "postal",
                        )
                    ),
                ),
            ),
        )
        .withColumn(
            "city_id",
            F.coalesce(
                "city_id",
                _next(
                    "C",
                    "city_id",
                    3,
                    F.dense_rank().over(
                        Window.orderBy(
                            F.when(F.col("city_id").isNull(), 0).otherwise(1),
                            "city",
                            "state",
                            "postal",
                        )
                    ),
                ),
            ),
        )
        .withColumn("street_id", _next("S", "street_id", 6, F.col("__rn")))
        .withColumn("location_id", _next("L", "location_id", 6, F.col("__rn")))
        .select(
            "location_id",
            "street_id",
            F.col("street").alias("street_name"),
            "city_id",
            F.col("city").alias("city_name"),
            "state_id",
            F.col("state").alias("state_name"),
            "postal",
            F.concat_ws(
                ", ",
                F.col("street"),
                F.col("city"),
                F.concat_ws(" ", "state", "postal"),
            ).alias("full_address"),
        )
    )
    return existing.unionByName(appended)


def build_location_dimension(cleansed: DataFrame) -> DataFrame:
    """The dimension of ``cleansed`` alone: its merge into an empty
    dimension, so a full build numbers every level exactly as the first
    fold into an empty warehouse does."""
    return merge_location_dimension(
        empty_frame(cleansed.sparkSession, LOCATION_DIMENSION_SCHEMA), cleansed
    )
