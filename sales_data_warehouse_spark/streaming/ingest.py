"""Streaming ingest of sales CSVs: landing stream + streaming cleanse.

The batch pipeline ingests one file per ``etl()`` call (reference
``Import.sql:83-88``); at scale the natural shape is a drop-directory
the upstream keeps writing CSVs into. The cleanse applied here is the
*stateless* core of ``operators.cleansing.cleanse`` — NULL-completeness
and cast-failure reject routing, address split, day-grain date — which
streams with zero state. Two batch-only steps are intentionally absent:

* max(order_id)+n assignment for missing ids (reference
  ``Cleansing.sql:56-61``) needs a global MAX over a finite input; a
  stream has no final MAX. Streaming rows with a NULL id keep it NULL
  for a downstream batch compaction to assign.
* full-row DISTINCT (``Cleansing.sql:118-122``) over the whole corpus is
  unbounded state; ``dedupe_within`` offers the streaming analogue
  (``dropDuplicatesWithinWatermark``) that bounds state by event time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators.cleansing import (
    _split_address,
    _split_rejects,
)
from sales_data_warehouse_spark.etl import _job_pool, _write
from sales_data_warehouse_spark.schemas import LANDING_COLUMNS
from sales_data_warehouse_spark.sources.compaction import (
    enforce_output_lineage,
)
from sales_data_warehouse_spark.sources.csv_ingest import (
    CSV_OPTIONS,
    RAW_CSV_SCHEMA,
)


def read_sales_csv_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """All-string landing stream over a CSV drop directory, read with
    the batch reader's own options (``csv_ingest.CSV_OPTIONS``), so a
    file lands as the same rows either way."""
    df = (
        spark.readStream.schema(RAW_CSV_SCHEMA)
        .options(**CSV_OPTIONS)
        .option("maxFilesPerTrigger", 16)
        .csv(drop_dir)
    )
    return df.toDF(*LANDING_COLUMNS)


def cleanse_stream(landing: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a landing *stream* into (cleansed, invalid) streams.

    The reject rule is the batch cleanse's own (``_split_rejects``,
    SURVEY P2/P3): NULL in a required field or any cast failure routes
    the raw row to invalid. Entirely stateless — a pure per-row
    projection + filter, so it runs in append mode with no state store
    and no shuffle.
    """
    valid, invalid = _split_rejects(landing)
    addr = _split_address(F.col("purchase_address"))
    cleansed = valid.select(
        F.col("_order_id").alias("order_id"),
        F.trim(F.col("product")).alias("product"),
        F.col("_quantity").alias("quantity_ordered"),
        F.col("_price").alias("price_each"),
        F.col("_ts").alias("order_ts"),  # streams keep event time...
        F.col("_ts").cast("date").alias("order_date"),  # ...and day grain
        addr["street"].alias("street"),
        addr["city"].alias("city"),
        addr["state"].alias("state"),
        addr["postal"].alias("postal"),
    )
    return cleansed, invalid


def etl_batch_sink(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
) -> None:
    """Fold one landing micro-batch into the cleansed/invalid tables.
    Plain function (the ``foreachBatch`` sink calls it) so replay
    semantics are directly testable without driving a stream — see
    :func:`start_streaming_etl`.

    Each table gets the batch's own ``batch_id=N`` partition and
    overwrites it (cleansed partitioned by order_date inside it). The
    micro-batch is persisted once (both outputs derive from it; without
    the persist each write re-parses the batch's CSV files) and the two
    writes run concurrently on the ``run_etl`` job pool, whose workers
    inherit the micro-batch thread's job group, so
    ``StreamingQuery.stop()`` still cancels in-flight writes.
    """
    from pyspark import StorageLevel

    batch_df.persist(StorageLevel.MEMORY_AND_DISK)
    submit, pool = _job_pool(spark)
    try:
        cleansed, invalid = cleanse_stream(batch_df)
        writes = [
            submit(_write, cleansed, output_dir, "cleansed", batch_id,
                   ["order_date"]),
            submit(_write, invalid, output_dir, "invalid", batch_id),
        ]
        for f in writes:
            f.result()
    finally:
        pool.shutdown(wait=True)
        batch_df.unpersist()


def start_streaming_etl(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Continuous landing -> cleansed/invalid parquet pipeline.

    One source pass per micro-batch: ``foreachBatch`` applies the
    (stateless) cleanse to the batch DataFrame and writes both outputs
    — cleansed partitioned by order_date so downstream dimension/fact
    rebuilds prune to the affected days. ``available_now=True`` drains
    pending files then stops (backfill mode); default runs forever.

    Returns the StreamingQuery (caller owns stop/awaitTermination).

    Replay semantics: each table holds one ``batch_id=N`` partition per
    micro-batch, and the sink overwrites it, so a checkpoint replay —
    including one after a crash between the two writes — rewrites the
    batch's own partitions and lands every row exactly once.

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``, r14): ``batch_id`` is
    meaningful only within one checkpoint lineage — a restart under a
    fresh checkpoint would re-ingest every already-processed file
    (forgotten source offsets) into batch ids that overwrite the old
    lineage's partitions while its later ones persist. Refused at
    start instead.
    """
    checkpoint = checkpoint_dir or f"{output_dir}/_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint, "start_streaming_etl"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        etl_batch_sink(spark, batch_df, batch_id, output_dir)

    landing = read_sales_csv_stream(spark, drop_dir)
    writer = landing.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedupe_within(
    cleansed: DataFrame,
    watermark: str = "1 day",
    keys: list[str] | None = None,
) -> DataFrame:
    """Streaming analogue of the batch full-row DISTINCT (quirk Q9).

    ``dropDuplicatesWithinWatermark`` keeps per-key state only until the
    watermark passes — the scalable contract: exactly-once within the
    lateness bound, instead of unbounded all-history state.
    """
    keys = keys or [
        "product",
        "quantity_ordered",
        "price_each",
        "order_date",
        "street",
        "city",
        "state",
        "postal",
    ]
    return cleansed.withWatermark("order_ts", watermark)\
        .dropDuplicatesWithinWatermark(keys)
