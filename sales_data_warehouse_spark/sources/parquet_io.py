"""Parquet materialization helpers (SURVEY S4/S5/S7).

The reference's DROP-and-rebuild tables (``ProductDimension.sql:19-20``,
``FactTable.sql:9-12``) map to ``mode('overwrite')`` parquet writes. Facts
are partitioned by a date-derived column so time-sliced queries get
partition pruning at 100 TB scale; dimensions stay unpartitioned (small,
broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
