"""CSV landing ingest (SURVEY S1/S2; reference ``Import.sql:83-91``).

The reference ``COPY``s the CSV into an all-TEXT ``landing`` table with
Postgres CSV semantics: header skipped, quoted fields may embed commas,
empty unquoted fields become NULL. Spark's CSV reader matches those
semantics with the defaults below; reading everything as string defers
typing to the cleansing stage, exactly like the reference.

Scale note: ``spark.read.csv`` over a directory/glob parallelizes per
128-256 MB file split — ingest is already cluster-wide with no custom code.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from sales_data_warehouse_spark.schemas import (
    LANDING_COLUMNS,
    LANDING_SCHEMA,
    RAW_CSV_COLUMNS,
)

log = logging.getLogger(__name__)

#: Postgres CSV semantics, shared by the batch reader and the
#: drop-directory stream: header skipped, ``,`` delimiter, ``"`` quote
#: with ``""`` as the escaped quote inside a quoted field, and
#: PERMISSIVE parsing so malformed rows survive to reject-routing.
CSV_OPTIONS = {
    "header": True, "quote": '"', "escape": '"', "sep": ",",
    "mode": "PERMISSIVE",
}
#: Every field read raw as a string: typing happens in cleansing
#: (schema-on-read), like the reference's all-TEXT landing table.
RAW_CSV_SCHEMA = ", ".join(f"`{c}` STRING" for c in RAW_CSV_COLUMNS)


def ingest_csv(spark: SparkSession, path: str) -> DataFrame:
    """Read a sales CSV (or directory/glob of them) into the landing shape.

    Returns an all-string DataFrame with canonical snake_case columns.
    Mirrors ``Import.sql:83-88``: HEADER on, ``,`` delimiter, ``"`` quote,
    empty field -> NULL. The reference wraps COPY in an exception handler
    that warns instead of aborting (``Import.sql:89-91``); we keep Spark's
    PERMISSIVE mode so malformed *rows* survive to reject-routing, and let
    genuinely unreadable *files* raise (caller decides, like psql's NOTICE).
    """
    df = spark.read.csv(path, schema=RAW_CSV_SCHEMA, **CSV_OPTIONS)
    return df.toDF(*LANDING_COLUMNS)


def landing_from_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Test helper: build a landing-shaped DataFrame from python tuples."""
    return spark.createDataFrame(rows, schema=LANDING_SCHEMA)
