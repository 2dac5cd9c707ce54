"""Product dimension — SCD Type 2 price-version history.

Reference: ``ProductDimension.sql:2-157`` — an ``all_products`` snapshot
(:30-39, quirk Q4: its NOT EXISTS guard is vacuous), a date-ordered cursor
that inserts one row per (product, price) first occurrence and flips
predecessor versions' status (:52-138), a hard-coded initial-load date
hack (:112, quirk Q6), an MD5 id that is dead code (:59, quirk Q5), and a
final DENSE_RANK renumbering (:143-152).

Spark-first rationalization (documented in SURVEY Q4-Q6):
  * version set   = distinct (product, price) with min(order_date) as the
    version's effective date — one groupBy, no cursor.
  * version order = effective date (ties broken by price for determinism).
  * active_status = 'Y' only for the latest version per product.
  * action_flag   = 'I' for a product's first version, 'U' for later ones
    (replaces the hard-coded '2019-01-01' check).
  * product_id    = dense_rank over product_name (same id across versions,
    as in the reference after its renumbering pass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.functions.expressions import padded_id


def build_product_dimension(cleansed: DataFrame) -> DataFrame:
    # all_products, rationalized per Q4: first sale date per price version.
    versions = (
        cleansed.groupBy("product", "price_each")
        .agg(F.min("order_date").alias("last_update_date"))
        .withColumnRenamed("product", "product_name")
    )
    return _dim_from_versions(versions)


def merge_product_dimension(
    existing: DataFrame, cleansed_new: DataFrame
) -> DataFrame:
    """Incremental SCD2 merge: fold a new batch of order lines into an
    existing product dimension without rescanning historical facts.

    The expensive input at scale is the fact history; the dimension
    itself is catalog-sized. So the merge unions the *version table*
    (one row per (product, price) with its first-seen date) from the
    existing dimension with versions observed in the increment, keeps
    the earliest date per version, and re-derives status/flags/ids —
    dimension-sized work regardless of how much history exists. This is
    the MERGE INTO pattern emulated with joins + union (no Delta/Iceberg
    dependency). Equivalent to a full rebuild over (old facts + new
    facts), which the tests assert.
    """
    new_versions = (
        cleansed_new.groupBy("product", "price_each")
        .agg(F.min("order_date").alias("last_update_date"))
        .withColumnRenamed("product", "product_name")
    )
    merged = (
        existing.select("product_name", "price_each", "last_update_date")
        .unionByName(new_versions)
        .groupBy("product_name", "price_each")
        .agg(F.min("last_update_date").alias("last_update_date"))
    )
    # Append-stable ids: the full build's dense_rank renumbers everything
    # when a new product sorts before an old one; consumers (fact rows)
    # that stored product_id need existing ids kept verbatim and new
    # products numbered past the current max.
    # The existing product count is a 1-row aggregate broadcast into the
    # new names, so building the merge submits no Spark job.
    existing_ids = existing.select("product_name", "product_id").distinct()
    n_existing = existing_ids.agg(F.count(F.lit(1)).alias("__n_existing"))
    new_names = (
        merged.select("product_name")
        .distinct()
        .join(existing_ids, "product_name", "left_anti")
    )
    new_ids = new_names.crossJoin(F.broadcast(n_existing)).select(
        "product_name",
        padded_id(
            "P",
            F.dense_rank().over(Window.orderBy("product_name"))
            + F.col("__n_existing"),
            6,
        ).alias("product_id"),
    )
    return _dim_from_versions(
        merged, id_map=existing_ids.unionByName(new_ids)
    )


def _dim_from_versions(
    versions: DataFrame, id_map: DataFrame | None = None
) -> DataFrame:
    """Status/flag/id derivation shared by full build and merge.

    ``id_map`` (product_name -> product_id) overrides the default
    dense_rank numbering — used by the incremental merge to keep ids
    append-stable."""
    w_ver = Window.partitionBy("product_name").orderBy(
        "last_update_date", "price_each"
    )
    w_all = Window.partitionBy("product_name")

    dim = (
        versions.withColumn("_ver", F.row_number().over(w_ver))
        .withColumn("_n_ver", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "active_status",
            F.when(F.col("_ver") == F.col("_n_ver"), F.lit("Y")).otherwise(
                F.lit("N")
            ),
        )
        .withColumn(
            "action_flag",
            F.when(F.col("_ver") == 1, F.lit("I")).otherwise(F.lit("U")),
        )
    )
    if id_map is None:
        dim = dim.withColumn(
            "product_id",
            padded_id(
                "P", F.dense_rank().over(Window.orderBy("product_name")), 6
            ),
        )
    else:
        dim = dim.join(F.broadcast(id_map), "product_name", "inner")
    return dim.select(
        "product_id",
        "product_name",
        "price_each",
        "last_update_date",
        "active_status",
        "action_flag",
    )
