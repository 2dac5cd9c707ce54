"""Surrogate-id formatting: ``padded_id`` pads to a width and widens
past it instead of truncating, so ids stay unique after the rollover."""

from __future__ import annotations

from pyspark.sql import functions as F

from sales_data_warehouse_spark.functions.expressions import padded_id


def test_padded_id_widens_instead_of_truncating(spark):
    # lpad truncates past the target width; padded_id must widen instead
    # so ids stay unique after the 10^width rollover.
    df = spark.createDataFrame(
        [(1,), (999,), (1000,), (1234567,)], ["n"]
    ).withColumn("id", padded_id("P", F.col("n"), 3))
    got = {r["n"]: r["id"] for r in df.collect()}
    assert got == {1: "P001", 999: "P999", 1000: "P1000", 1234567: "P1234567"}
