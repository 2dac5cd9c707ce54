"""Streaming dimension maintenance: fold each micro-batch of sales rows
into the SCD2 product / location / time dimensions.

The reference rebuilds every dimension per batch run
(``MotherProcedure.sql:7-22``); ``etl.run_etl_increment`` already folds
batches in without rescanning history. This module is the *streaming*
shape of the same contract: a CSV drop-directory stream whose
``foreachBatch`` sink applies the stateless cleanse and then the
append-stable dimension merges per micro-batch — dimensions stay
current continuously instead of per nightly run.

Why foreachBatch and not stateful streaming operators: the merges are
small-table (catalog-sized) batch jobs whose outputs ARE the state;
per-key state stores would re-implement what the dimension tables
already are. Replay-safety, concretely:

* dimension writes go through ``staged_overwrite`` (write-then-rename)
  so a crash mid-write leaves the previous dimension intact;
* the merges themselves are idempotent (existing keys keep ids
  verbatim; re-merging the same rows is a no-op);
* cleansed/invalid land in a ``batch_id=N`` partition directory with
  ``mode('overwrite')`` per batch — a replayed micro-batch rewrites
  its own partition instead of appending duplicates;
* the checkpoint gives exactly-once at the source-offset level;
* ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
  (``compaction.enforce_output_lineage``, r14): batch_id is unique
  only within a checkpoint lineage, so restarting the same
  ``warehouse_dir`` under a different checkpoint would overwrite
  ``cleansed/batch_id=0`` with new-lineage rows while stale
  partitions 1..N persist — both starters refuse instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sales_data_warehouse_spark.operators.location_dimension import (
    build_location_dimension,
    merge_location_dimension,
)
from sales_data_warehouse_spark.operators.product_dimension import (
    build_product_dimension,
    merge_product_dimension,
)
from sales_data_warehouse_spark.operators.time_dimension import (
    build_time_dimension,
    merge_time_dimension,
)
from sales_data_warehouse_spark.sources.compaction import (
    enforce_output_lineage,
    fs_exists,
    recover_staged,
    staged_overwrite,
)
from sales_data_warehouse_spark.streaming.ingest import (
    cleanse_stream,
    read_sales_csv_stream,
)

_DIMS = (
    ("product_dimension", build_product_dimension, merge_product_dimension),
    ("location_dimension", build_location_dimension, merge_location_dimension),
    ("time_dimension", build_time_dimension, merge_time_dimension),
)


def merge_dimensions_batch(
    spark: SparkSession, cleansed_batch: DataFrame, warehouse_dir: str
) -> dict[str, DataFrame]:
    """Fold one cleansed batch into the warehouse's three dimensions;
    returns the merged (materialized) dimension frames so the caller
    can build facts without re-reading the just-written parquet.

    First batch (no prior parquet) builds each dimension; later batches
    run the append-stable merges. ``localCheckpoint`` materializes each
    merged dimension BEFORE its rewrite (the merge plan reads the very
    path being replaced), and the rewrite itself is the staged
    write-then-rename (``staged_overwrite``) so a crash mid-write
    cannot destroy the previous dimension — the localCheckpoint copy is
    memory-only and dies with the application, so it is NOT a recovery
    source. Existence checks go through the Hadoop FS API: with an
    HDFS/S3 warehouse an ``os.path`` check would be always-False and
    every batch would silently rebuild-from-scratch, discarding
    accumulated SCD2 history. Work per batch is O(batch + dimension),
    never O(history).
    """
    merged: dict[str, DataFrame] = {}
    for name, build, merge in _DIMS:
        path = f"{warehouse_dir}/{name}"
        # a swap that crashed between staged_overwrite's renames leaves
        # the dimension only at <path>.stage_old — restore before the
        # existence check, or this batch silently rebuilds from scratch
        # and discards the accumulated SCD2 history (r11 review)
        recover_staged(spark, path)
        if fs_exists(spark, path):
            prior = spark.read.parquet(path)
            dim = merge(prior, cleansed_batch).localCheckpoint()
        else:
            dim = build(cleansed_batch).localCheckpoint()
        staged_overwrite(spark, dim, path)
        merged[name] = dim
    return merged


def _cleanse_and_merge(
    spark: SparkSession, batch_df: DataFrame, batch_id: int,
    warehouse_dir: str,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """The body both dimension sinks share: cleanse one landing
    micro-batch, land cleansed/invalid, and fold the batch into the
    three dimensions; returns the cleansed batch and the merged
    dimensions. The batch cleanse is computed once (``localCheckpoint``)
    for the parquet write AND the three merges. Each batch owns a
    ``batch_id=N`` partition and OVERWRITES it, so a replayed
    micro-batch rewrites its own partition instead of appending
    duplicates; readers scan the parent dir (batch_id shows up as a
    partition column)."""
    cleansed, invalid = cleanse_stream(batch_df)
    cleansed = cleansed.drop("order_ts").localCheckpoint()
    cleansed.write.mode("overwrite").parquet(
        f"{warehouse_dir}/cleansed/batch_id={batch_id}"
    )
    invalid.write.mode("overwrite").parquet(
        f"{warehouse_dir}/invalid/batch_id={batch_id}"
    )
    return cleansed, merge_dimensions_batch(spark, cleansed, warehouse_dir)


def start_streaming_dimensions(
    spark: SparkSession,
    drop_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Continuous CSV drop-dir -> cleansed/invalid appends + dimension
    merges, one ``foreachBatch`` sink per micro-batch.

    Returns the StreamingQuery (caller owns stop/awaitTermination).
    Restarting with the same checkpoint resumes at the next unprocessed
    file; a replayed batch re-merges idempotently. A restart under a
    DIFFERENT checkpoint refuses (module docstring, last bullet).
    """
    checkpoint = checkpoint_dir or f"{warehouse_dir}/_dim_checkpoint"
    enforce_output_lineage(
        spark, warehouse_dir, checkpoint, "start_streaming_dimensions"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _cleanse_and_merge(spark, batch_df, batch_id, warehouse_dir)

    landing = read_sales_csv_stream(spark, drop_dir)
    writer = landing.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_warehouse(
    spark: SparkSession,
    drop_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """The full warehouse maintained continuously: per micro-batch —
    cleanse, dimension merges, AND the fact rows for the batch's order
    lines joined against the post-merge dimensions. The streaming shape
    of ``run_etl_increment``; after any number of micro-batches the
    fact table equals the batch pipeline's on natural keys + measures
    (surrogate ids are append-stable, not batch-identical).

    Fact rows land in a ``batch_id=N`` directory (replay-idempotent,
    same contract as cleansed/invalid), month-partitioned inside it so
    time-sliced readers still prune: ``fact/batch_id=N/month_id=M``.
    Dimensions merge BEFORE the fact build, so every batch's facts
    resolve against dimensions that include their keys. A restart
    under a different checkpoint refuses (module docstring, last
    bullet) — the fact/cleansed/invalid batch_id partitions would mix
    lineages.
    """
    from sales_data_warehouse_spark.operators.fact import build_fact

    checkpoint = checkpoint_dir or f"{warehouse_dir}/_wh_checkpoint"
    enforce_output_lineage(
        spark, warehouse_dir, checkpoint, "start_streaming_warehouse"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cleansed, dims = _cleanse_and_merge(
            spark, batch_df, batch_id, warehouse_dir
        )
        fact = build_fact(
            cleansed,
            dims["product_dimension"],
            dims["location_dimension"],
            dims["time_dimension"],
        )
        fact.write.mode("overwrite").partitionBy("month_id").parquet(
            f"{warehouse_dir}/fact/batch_id={batch_id}"
        )

    landing = read_sales_csv_stream(spark, drop_dir)
    writer = landing.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
