"""SparkSession factory with the engine's required configuration.

The reference relies on PostgreSQL behaviors that map to specific Spark
configs:

- ``spark.sql.ansi.enabled=false``: the cleansing stage's reject-routing
  (reference ``Cleansing.sql:64-106``) depends on casts returning NULL on
  failure instead of throwing. Spark 4 defaults ANSI **on**, so this must
  be explicit.
- ``spark.sql.session.timeZone=UTC``: all reference timestamps are naive
  wall-clock values; pinning UTC makes parquet timestamp round-trips and
  DuckDB-oracle comparisons deterministic.
- AQE on: runtime coalescing + skew-join handling stand in for the
  hand-tuning a 1000-executor deployment would otherwise need.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Configs that encode *semantics* (not tuning) — always applied.
REQUIRED_CONF = {
    # Cast-to-null IS the cleansing mechanism (SURVEY P3).
    "spark.sql.ansi.enabled": "false",
    # Deterministic wall-clock handling for oracle comparisons.
    "spark.sql.session.timeZone": "UTC",
}

def _default_shuffle_partitions() -> str:
    """Shuffle-partition default: scale-adaptive, not a constant.

    The right value is a function of the deployment, not of this code:
    size post-shuffle partitions toward the 100 MB-1 GB range and let
    AQE coalesce the small ones. Resolution order:

    * ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` — explicit production override
      (a cluster deployment sets this to ~2-3x total executor cores, or
      higher and lets AQE coalescing pull each stage back down).
    * ``SPARK_GRAFT_CPUS`` — the local-mode core count the bench runs
      under; partitions == cores is the right local default (every
      shuffle here is far below one advisory partition size, so more
      partitions is pure per-task overhead, and fewer would idle
      cores on the rare large shuffle AQE cannot split).
    * 32 — the historical constant, kept as the last-resort fallback so
      bench numbers stay round-comparable on the 32-core driver box.
    """
    explicit = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if explicit and explicit.isdigit() and int(explicit) > 0:
        return explicit
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus.isdigit() and int(cpus) > 0:
        return cpus
    return "32"


def _state_store_conf() -> dict[str, str]:
    """Streaming state-store provider, deployment-selected (r15 opt).

    ``SPARK_GRAFT_STATE_STORE=rocksdb`` switches stateful streaming to
    the RocksDB provider WITH changelog checkpointing — the production
    configuration once state outgrows executor memory (HDFS-backed
    state is an in-memory map per partition; RocksDB spills to local
    disk and the changelog makes each commit incremental instead of a
    full snapshot upload). Default is Spark's HDFS-backed provider:
    measured on the bench drain (3,600 state rows, 32 partitions,
    availableNow) the warm times are HDFS 1.87-2.21 s, RocksDB plain
    3.3-4.4 s (snapshot-per-commit dominates at tiny state), RocksDB +
    changelog 1.6-2.2 s — parity at local scale, so the default stays
    HDFS for round-comparable bench numbers and the knob exists for
    deployments whose state actually needs it. Applies to NEW
    checkpoints only (Spark pins the provider per checkpoint lineage).
    """
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() != "rocksdb":
        return {}
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }


#: Scale/perf defaults — overridable per session.
DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas-UDF operators (multimodal, LSH).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 32 MiB (Spark's default is 10 MB) covers our dims (time=KBs,
    # product=KBs, location up to ~1 MB at reference scale); AQE will
    # upgrade shuffle joins to broadcast at runtime when sides turn out
    # small. The plan routers read it through fits_broadcast below.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Files: favor large scan partitions; AQE coalesces post-shuffle.
    "spark.sql.files.maxPartitionBytes": str(256 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "snappy",
    # Wide-aggregate operators (simhash: 64 vote sums) fall out of
    # whole-stage codegen at the default 100-field cap and run ~2.5x
    # slower interpreted.
    "spark.sql.codegen.maxFields": "512",
    "spark.ui.enabled": "false",
}

#: Catalyst sizes a file scan by its (compressed) bytes on disk; the
#: broadcast hash relation built from the same rows can be several
#: times larger, so estimates are scaled by this before the comparison.
BROADCAST_SIZE_MARGIN = 3


def fits_broadcast(*dfs: DataFrame) -> bool:
    """The one size oracle for plan routers: True when every plan's
    optimizer estimate, times :data:`BROADCAST_SIZE_MARGIN`, is at or
    under the session's ``spark.sql.autoBroadcastJoinThreshold``.

    The estimate is the planner's own cost input
    (``optimizedPlan().stats().sizeInBytes()``): it runs no Spark job,
    sees column pruning, and keeps no memo, so a plan built after a
    table is rewritten sees the new size. Broadcast disabled
    (threshold <= 0) or any error reading the estimate returns False,
    which picks the shuffle plan: the one that is safe at any scale.
    Estimates of joins multiply their inputs and a plan Catalyst cannot
    size (an RDD-backed DataFrame) reports ``Long.MaxValue``, so errors
    also lean toward False.
    """
    try:
        conf = dfs[0].sparkSession._jsparkSession.sessionState().conf()
        threshold = conf.autoBroadcastJoinThreshold()
        if threshold <= 0:
            return False
        return all(
            int(str(df._jdf.queryExecution().optimizedPlan().stats()
                    .sizeInBytes())) * BROADCAST_SIZE_MARGIN <= threshold
            for df in dfs
        )
    except Exception:  # noqa: BLE001 — unreadable estimate: route large
        return False


def _resolve_conf(
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> dict[str, str]:
    """The full config a new session gets, resolved AT CALL TIME.

    Environment-dependent values (shuffle partitions, driver memory,
    state-store provider) are read here rather than at module import,
    so ``SPARK_GRAFT_*`` exported after this module loads is honored —
    the r14 shape baked ``_default_shuffle_partitions()`` into
    ``DEFAULT_CONF`` at import and silently ignored later env changes
    (r14 ADVICE). Split out from :func:`get_spark` so resolution is
    testable without building a session.
    """
    conf = {
        **DEFAULT_CONF,
        "spark.sql.shuffle.partitions": _default_shuffle_partitions(),
        "spark.driver.memory": os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", "8g"
        ),
        **_state_store_conf(),
        **REQUIRED_CONF,
        **(extra_conf or {}),
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf


def get_spark(
    app_name: str = "sales-data-warehouse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    active session exists; on a real cluster pass ``None`` with an external
    master supplied by spark-submit.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        # Re-assert semantic configs on the borrowed session (the driver
        # may hand us one); these are runtime-settable.
        for k, v in REQUIRED_CONF.items():
            active.conf.set(k, v)
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = _resolve_conf(shuffle_partitions, extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
