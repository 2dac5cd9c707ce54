"""Location dimension: street -> city -> state hierarchy.

Reference: ``LocationDimension.sql:2-184`` — a cursor over ``cleansed``
probes three staging tables per row, inserting first-seen keys with
``COUNT(*)+1`` surrogate ids (:84-132, an O(n*m) anti-pattern), renames the
link columns (:137-147), then a 3-way join + ROW_NUMBER produces
``location_dimension`` (:150-180).

Spark-first: each level is one ``dropDuplicates`` on its natural key plus
one ``row_number`` window for ids (SURVEY J11/A3/W2). Quirk Q8 is
load-bearing and replicated: the state level is keyed on (state, postal),
so multi-zip states produce one row per zip. Quirk Q7 (scan-order ids) is
rationalized to a deterministic natural-key ordering.

Scale note: unlike time (bounded by the calendar) and product (bounded
by the catalog), this dimension grows with the *data* — distinct
addresses are ~1:1 with order volume, so the default reference-parity
``row_number`` ids (single-partition window) stop scaling exactly when
the input does. ``id_strategy="hash"`` switches every level id to
``xxhash64`` of the natural key: fully parallel, stable across runs and
partitionings, and — because a hash id is a pure function of the row —
the 3-way hierarchy join disappears entirely (each level id is computed
in place on the street-grain row). That is the 100 TB path; sequential
stays the default for reference-format parity (``L000001``-style ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.functions.expressions import padded_id


def _hash_location_dimension(addr: DataFrame) -> DataFrame:
    """Hash-id variant: one dropDuplicates, zero joins, zero windows."""
    uniq = addr.dropDuplicates()
    return uniq.select(
        F.xxhash64("street", "city", "state", "postal").alias("location_id"),
        F.xxhash64("street", "city", "state", "postal").alias("street_id"),
        F.col("street").alias("street_name"),
        F.xxhash64("city", "state", "postal").alias("city_id"),
        F.col("city").alias("city_name"),
        F.xxhash64("state", "postal").alias("state_id"),
        F.col("state").alias("state_name"),
        "postal",
        F.concat_ws(
            ", ",
            F.col("street"),
            F.col("city"),
            F.concat_ws(" ", "state", "postal"),
        ).alias("full_address"),
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
    rescanning old facts. (With ``id_strategy="hash"`` ids are pure
    functions of the key, so "merge" degenerates to union+distinct and
    this function is unnecessary.)
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


def build_location_dimension(
    cleansed: DataFrame, id_strategy: str = "sequential"
) -> DataFrame:
    addr = cleansed.select("street", "city", "state", "postal")
    if id_strategy == "hash":
        return _hash_location_dimension(addr)
    if id_strategy != "sequential":
        raise ValueError(f"id_strategy must be sequential|hash: {id_strategy}")

    # Level ids: deterministic first-seen order = natural-key order (Q7).
    state = (
        addr.select("state", "postal")
        .dropDuplicates()
        .withColumn(
            "state_id",
            padded_id(
                "SA", F.row_number().over(Window.orderBy("state", "postal")), 3
            ),
        )
    )
    city = (
        addr.select("city", "state", "postal")
        .dropDuplicates()
        .withColumn(
            "city_id",
            padded_id(
                "C",
                F.row_number().over(Window.orderBy("city", "state", "postal")),
                3,
            ),
        )
    )
    street = (
        addr.dropDuplicates()
        .withColumn(
            "street_id",
            padded_id(
                "S",
                F.row_number().over(
                    Window.orderBy("street", "city", "state", "postal")
                ),
                6,
            ),
        )
    )

    # 3-way hierarchy assembly (J2); city/state levels are tiny -> broadcast.
    joined = (
        street.join(F.broadcast(city), on=["city", "state", "postal"], how="inner")
        .join(F.broadcast(state), on=["state", "postal"], how="inner")
    )

    return joined.select(
        padded_id(
            "L",
            F.row_number().over(
                Window.orderBy("street_id", "city_id", "state_id")
            ),
            6,
        ).alias("location_id"),
        "street_id",
        F.col("street").alias("street_name"),
        "city_id",
        F.col("city").alias("city_name"),
        "state_id",
        F.col("state").alias("state_name"),
        "postal",
        F.concat_ws(
            ", ", F.col("street"), F.col("city"), F.concat_ws(" ", "state", "postal")
        ).alias("full_address"),
    )
