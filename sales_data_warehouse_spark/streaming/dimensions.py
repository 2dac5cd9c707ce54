"""Streaming warehouse maintenance: fold each micro-batch of sales rows
into the warehouse — cleansed/invalid rows, the SCD2 product / location
/ time dimensions, and the fact.

The reference rebuilds every dimension per batch run
(``MotherProcedure.sql:7-22``); ``etl.run_etl_increment`` folds a CSV
in without rescanning history. This module is the *streaming* shape of
the same fold: a CSV drop-directory stream whose ``foreachBatch`` sink
applies the stateless cleanse and then ``etl._fold``, the fold body
``run_etl_increment`` runs, keyed by the micro-batch id — the warehouse
stays current continuously instead of per nightly run.

Why foreachBatch and not stateful streaming operators: the merges are
small-table (catalog-sized) batch jobs whose outputs ARE the state;
per-key state stores would re-implement what the dimension tables
already are. Replay-safety is the fold's own:

* cleansed, invalid and the fact land in a ``batch_id=N`` partition
  that each batch OVERWRITES, so a replayed micro-batch rewrites its
  own partitions instead of appending duplicates;
* the merges are idempotent (existing keys keep ids verbatim;
  re-merging the same rows is a no-op), and each dimension is swapped
  in with ``staged_overwrite``, so a crash mid-write leaves the
  previous dimension intact;
* the checkpoint gives exactly-once at the source-offset level;
* ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
  (``compaction.enforce_output_lineage``, r14): batch_id is unique
  only within a checkpoint lineage, so restarting the same
  ``warehouse_dir`` under a different checkpoint would overwrite
  ``cleansed/batch_id=0`` with new-lineage rows while stale
  partitions 1..N persist — the starter refuses instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sales_data_warehouse_spark.etl import _fold
from sales_data_warehouse_spark.sources.compaction import (
    enforce_output_lineage,
)
from sales_data_warehouse_spark.streaming.ingest import (
    cleanse_stream,
    read_sales_csv_stream,
)


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
    of ``run_etl_increment`` (both call ``etl._fold``); after any
    number of micro-batches the fact table equals the batch pipeline's
    on natural keys + measures (surrogate ids are append-stable, not
    batch-identical).

    Each batch writes ``cleansed/batch_id=N``, ``invalid/batch_id=N``
    and ``fact/batch_id=N/month_id=M`` (replay-idempotent,
    month-partitioned inside so time-sliced readers still prune).
    Dimensions merge BEFORE the fact build, so every batch's facts
    resolve against dimensions that include their keys. Returns the
    StreamingQuery (caller owns stop/awaitTermination); restarting
    with the same checkpoint resumes at the next unprocessed file. A
    restart under a different checkpoint refuses (module docstring,
    last bullet).
    """
    checkpoint = checkpoint_dir or f"{warehouse_dir}/_wh_checkpoint"
    enforce_output_lineage(
        spark, warehouse_dir, checkpoint, "start_streaming_warehouse"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cleansed, invalid = cleanse_stream(batch_df)
        _fold(
            spark, batch_df, cleansed.drop("order_ts"), invalid,
            warehouse_dir, batch_id,
        )

    landing = read_sales_csv_stream(spark, drop_dir)
    writer = landing.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
