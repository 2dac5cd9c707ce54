"""End-to-end ETL orchestrator — the reference's ``etl(filepath)``.

Reference: ``MotherProcedure.sql:2-25`` calls import -> cleansing ->
location -> time -> product -> fact in order and rebuilds every table on
each run. Here each stage is a pure DataFrame function, and one fold
(``_fold``) writes the warehouse: it merges a drop of cleansed rows into
each dimension and writes the drop's own ``batch_id`` partition of
cleansed, invalid and the fact. ``run_etl_increment`` folds in one CSV,
the warehouse stream one micro-batch, and a full refresh (``run_etl``
with ``output_dir``) folds its CSV into an emptied warehouse.
"""

from __future__ import annotations

import hashlib
import logging
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from sales_data_warehouse_spark.operators.cleansing import cleanse
from sales_data_warehouse_spark.operators.fact import build_fact, dense_fact
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
from sales_data_warehouse_spark.schemas import (
    LOCATION_DIMENSION_SCHEMA,
    PRODUCT_DIMENSION_SCHEMA,
    TIME_DIMENSION_SCHEMA,
    empty_frame,
)
from sales_data_warehouse_spark.sources.compaction import (
    fs_delete,
    fs_exists,
    fs_qualify,
    recover_staged,
    staged_overwrite,
)
from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv

log = logging.getLogger(__name__)


@dataclass
class EtlResult:
    landing: DataFrame
    invalid: DataFrame
    cleansed: DataFrame
    time_dimension: DataFrame
    location_dimension: DataFrame
    product_dimension: DataFrame
    fact: DataFrame


def _job_pool(spark: SparkSession):
    """A small thread pool for submitting independent Spark jobs at once;
    returns ``(submit, pool)``. The scheduler overlaps the jobs: each
    job's tail (the straggling last tasks of a write) is back-filled by
    the next job's tasks instead of leaving the executors idle, so
    independent writes cost ~max(job_i) instead of sum(job_i) while the
    cluster has headroom. ``submit(fn, *args)`` runs ``fn`` under
    ``pyspark.inheritable_thread_target``, so the worker inherits the
    caller's JVM-local properties — job group, description, scheduler
    pool: ``cancelJobGroup`` reaches every job, and the UI files them
    under the caller's group. The wrapper is made per call because it
    snapshots the properties once and hands that one object to every
    call; two workers sharing it would overwrite each other's job
    description."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    # the fold's widest phase: both drop writes may still run beside
    # the three dimension replaces and the fact write
    pool = ThreadPoolExecutor(max_workers=6)

    def submit(fn, *args, **kwargs):
        target = inheritable_thread_target(spark)(fn)
        return pool.submit(target, *args, **kwargs)

    return submit, pool


def _write(
    df: DataFrame,
    output_dir: str,
    name: str,
    key: str | int | None = None,
    partition_by: list | None = None,
    replace: bool = False,
) -> None:
    """Write ``df`` as table ``name``. With a ``key`` it becomes the
    table's ``batch_id=<key>`` partition, so the overwrite replaces only
    that drop's rows and a replayed drop rewrites its own partition;
    ``replace=True`` swaps the whole table in crash-safely
    (``staged_overwrite``: the previous table survives a failed write).
    Job descriptions are thread-local, so each concurrent write labels
    its own jobs."""
    spark = df.sparkSession
    spark.sparkContext.setJobDescription(f"etl: write {name}")
    path = f"{output_dir}/{name}"
    if replace:
        staged_overwrite(spark, df, path)
    else:
        if key is not None:
            path = f"{path}/batch_id={key}"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)


def _drop_key(spark: SparkSession, path: str) -> str:
    """The ``batch_id`` of a file drop: its sanitized stem plus 8 hex
    digits of the hash of its Hadoop-qualified path. Re-running a path
    rewrites its own partitions; two paths never share a key, even with
    equal base names."""
    qualified = fs_qualify(spark, path)
    name = qualified.rstrip("/").rsplit("/", 1)[-1]
    stem = re.sub(r"[^A-Za-z0-9_.-]", "_", name.rsplit(".", 1)[0] or name)
    return f"{stem}-{hashlib.sha1(qualified.encode()).hexdigest()[:8]}"


def run_etl(
    spark: SparkSession,
    csv_path: str,
    output_dir: str | None = None,
    dense: bool = False,
) -> EtlResult:
    """Run the full pipeline on a sales CSV.

    ``dense=False`` keeps the sparse fact as primary (SURVEY §4); pass
    ``dense=True`` to materialize the reference's cube semantics.
    When ``output_dir`` is set, the warehouse is rebuilt there like the
    reference's ``etl()`` rebuilds every table: all six tables are
    cleared (with any staged swap a crashed fold left behind) and the
    CSV is folded into the empty warehouse by ``_fold`` under its key
    (``_drop_key``) — the same fold ``run_etl_increment`` and the
    warehouse stream add their drops with. The result frames read the
    written tables; cleansed and the fact read the CSV's own partition.
    """
    landing = ingest_csv(spark, csv_path)
    cleansed, invalid = cleanse(landing)
    if output_dir:
        key = _drop_key(spark, csv_path)
        for name in _TABLES:
            for suffix in ("", ".stage_tmp", ".stage_old"):
                fs_delete(spark, f"{output_dir}/{name}{suffix}")
        _fold(spark, landing, cleansed, invalid, output_dir, key, dense)
        cleansed = spark.read.parquet(f"{output_dir}/cleansed/batch_id={key}")
        time_dim, loc_dim, prod_dim = (
            spark.read.parquet(f"{output_dir}/{name}")
            for name in ("time_dimension", "location_dimension",
                         "product_dimension")
        )
        fact = spark.read.parquet(f"{output_dir}/fact/batch_id={key}")
    else:
        cleansed = cleansed.cache()
        time_dim = build_time_dimension(cleansed)
        loc_dim = build_location_dimension(cleansed)
        prod_dim = build_product_dimension(cleansed)
        fact = build_fact(cleansed, prod_dim, loc_dim, time_dim)
        if dense:
            fact = dense_fact(fact, prod_dim, loc_dim, time_dim)

    return EtlResult(
        landing=landing,
        invalid=invalid,
        cleansed=cleansed,
        time_dimension=time_dim,
        location_dimension=loc_dim,
        product_dimension=prod_dim,
        fact=fact,
    )


def register_views(spark: SparkSession, result: EtlResult) -> None:
    """Expose the warehouse as SQL views — the reference's third entry
    point (SURVEY E3: ad-hoc analytical SQL over the star schema).
    After this, ``spark.sql("SELECT ... FROM fact_table ...")`` works
    with the reference's table names.
    """
    result.cleansed.createOrReplaceTempView("cleansed")
    result.invalid.createOrReplaceTempView("invalid")
    result.time_dimension.createOrReplaceTempView("time_dimension")
    result.location_dimension.createOrReplaceTempView("location_dimension")
    result.product_dimension.createOrReplaceTempView("product_dimension")
    result.fact.createOrReplaceTempView("fact_table")


_TABLES = ("cleansed", "invalid", "time_dimension", "location_dimension",
           "product_dimension", "fact")

_DIMENSIONS = (
    ("location_dimension", merge_location_dimension, LOCATION_DIMENSION_SCHEMA),
    ("product_dimension", merge_product_dimension, PRODUCT_DIMENSION_SCHEMA),
    ("time_dimension", merge_time_dimension, TIME_DIMENSION_SCHEMA),
)


def _materialize(
    name: str, merge, prior: DataFrame, cleansed: DataFrame
) -> DataFrame:
    """One dimension merged, materialized: ``localCheckpoint``
    computes its rows once for both consumers (the fact build and the
    dimension replace) and cuts the plan loose from the prior parquet
    that the replace swaps out."""
    cleansed.sparkSession.sparkContext.setJobDescription(f"etl: merge {name}")
    return merge(prior, cleansed).localCheckpoint()


def _fold(
    spark: SparkSession,
    landing: DataFrame,
    cleansed: DataFrame,
    invalid: DataFrame,
    output_dir: str,
    key: str | int,
    dense: bool = False,
) -> dict[str, DataFrame]:
    """Fold one drop of cleansed rows into the warehouse at
    ``output_dir``; returns the folded dimensions. Every warehouse sink
    calls this: ``run_etl_increment`` per CSV, the warehouse stream
    per micro-batch.

    Every write replaces only what belongs to this drop, so a re-run
    or a replayed micro-batch rewrites its own output and a write that
    failed half-way is mended by running the drop again:
      * cleansed, invalid and the fact overwrite their
        ``batch_id=<key>`` partition (the fact month-partitioned inside
        it, ``fact/batch_id=<key>/month_id=M``, so time slices prune);
      * each dimension's merge folds the drop into its table, or into
        an empty dimension where the table is absent (the first fold,
        and every fold of ``run_etl``). The merges are append-stable and
        idempotent: existing ids stay verbatim, new keys are numbered
        past the max, time ids are pure date functions, and merging
        rows the dimension holds already changes nothing. A swap that
        crashed half-way is recovered before the existence check, and
        each merged dimension is swapped in crash-safely
        (``staged_overwrite``), so a failed fold never loses one.

    ``dense=True`` writes the reference's dense cube as the drop's fact
    (``dense_fact``) in place of the sparse fact.

    The merges make no driver round-trips: the id offsets and the
    calendar's range are 1-row aggregates inside their plans. The fold
    runs as a dependency DAG on the ``run_etl`` job pool (the reference
    runs its stages one after another, ``MotherProcedure.sql:7-22``):

      1. the cleansed and invalid writes and the three
         merge + ``localCheckpoint`` steps are submitted at once
         (``landing`` and ``cleansed``, which five jobs read, are
         persisted and released in a ``finally``);
      2. once the dimensions are done, their three replaces and the
         fact write run at once.

    All jobs inherit the caller's job group (``_job_pool``).
    """
    from pyspark import StorageLevel

    landing.persist(StorageLevel.MEMORY_AND_DISK)
    cleansed.persist(StorageLevel.MEMORY_AND_DISK)
    submit, pool = _job_pool(spark)
    try:
        writes = [
            submit(_write, cleansed, output_dir, "cleansed", key),
            submit(_write, invalid, output_dir, "invalid", key),
        ]
        folds = {}
        for name, merge, schema in _DIMENSIONS:
            path = f"{output_dir}/{name}"
            # restore a swap that crashed between its renames first: a
            # dimension found missing would be rebuilt from this drop
            # alone, losing its history
            recover_staged(spark, path)
            prior = (
                spark.read.parquet(path) if fs_exists(spark, path)
                else empty_frame(spark, schema)
            )
            folds[name] = submit(_materialize, name, merge, prior, cleansed)
        dims = {name: f.result() for name, f in folds.items()}
        star = (
            dims["product_dimension"],
            dims["location_dimension"],
            dims["time_dimension"],
        )
        fact = build_fact(cleansed, *star)
        if dense:
            fact = dense_fact(fact, *star)
        writes += [
            submit(_write, dim, output_dir, name, replace=True)
            for name, dim in dims.items()
        ]
        writes.append(
            submit(_write, fact, output_dir, "fact", key, ["month_id"])
        )
        for f in writes:
            f.result()
    finally:
        pool.shutdown(wait=True)
        cleansed.unpersist()
        landing.unpersist()
    return dims


def run_etl_increment(
    spark: SparkSession,
    csv_path: str,
    output_dir: str,
) -> EtlResult:
    """Fold a new sales CSV into a warehouse previously written by
    ``run_etl(..., output_dir=output_dir)`` — without rescanning
    historical facts. Work scales with the CSV and the dimensions,
    never with history.

    The CSV is cleansed on its own (the full-row DISTINCT and the
    ``max + n`` ids apply within it, matching the reference's per-run
    semantics; cross-drop exact duplicates are a stream concern — see
    ``streaming.dedupe_within``) and folded in by ``_fold`` under a key
    derived from its path (``_drop_key``): running the same CSV again
    rewrites its own partitions and leaves every table unchanged.
    """
    landing = ingest_csv(spark, csv_path)
    cleansed, invalid = cleanse(landing)
    dims = _fold(
        spark, landing, cleansed, invalid, output_dir,
        _drop_key(spark, csv_path),
    )
    return EtlResult(
        landing=landing,
        invalid=invalid,
        cleansed=spark.read.parquet(f"{output_dir}/cleansed"),
        time_dimension=dims["time_dimension"],
        location_dimension=dims["location_dimension"],
        product_dimension=dims["product_dimension"],
        fact=spark.read.parquet(f"{output_dir}/fact"),
    )
