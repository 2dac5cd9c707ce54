"""Streaming weighted reservoir: documents drop-dir → a persisted
≤k-row A-ES sample of everything seen so far (SURVEY §2.9 extension;
the streaming twin of ``operators.sampling.weighted_sample_topk`` via
``weighted_sample_incremental`` — "keep a weighted 1M-doc annotation
sample of the whole corpus as shards land", without ever rescanning
prior batches).

Replay semantics are BELT AND SUSPENDERS here: the fold itself is
replay-idempotent (``weighted_sample_incremental`` dedups per id
keeping the highest-key copy, so re-folding an already-absorbed batch
is a no-op by construction), and a ``_last_batch`` high-water mark —
namespaced by a digest of the checkpoint location, same rationale as
``streaming.embeddings``, and advanced with ``compaction.advance_mark``
— additionally skips the recompute and the reservoir rewrite on a
re-delivered batch. Unlike the IVF append sink there is no unguarded
crash window: a crash between the reservoir swap and the mark advance
merely re-folds a batch whose rows are already in the reservoir (a
no-op), and a crash INSIDE the swap — between ``staged_overwrite``'s
two renames, which leaves ``rows`` missing and ``rows.stage_old``
holding the only durable copy — is restored by ``recover_staged`` at
the top of every fold before the state is read (treating that state
as "first batch" would silently reset the reservoir; r11 review).

The reservoir state is written with ``staged_overwrite`` (staging dir +
two renames) because the fold READS the current reservoir while
REPLACING the same location — the ``rebuild_ivf_index`` hazard; a plain
``mode('overwrite')`` would delete the only durable copy before the new
write commits.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from sales_data_warehouse_spark.operators.sampling import (
    weighted_sample_incremental,
)
from sales_data_warehouse_spark.sources.compaction import (
    advance_mark,
    fs_exists,
    read_mark,
    recover_staged,
    staged_overwrite,
)

from .documents import read_documents_stream


def reservoir_fold_batch(
    spark: SparkSession,
    reservoir_path: str,
    batch_df: DataFrame,
    batch_id: int,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    marker_namespace: str | None = None,
) -> int:
    """Fold one micro-batch into the persisted reservoir and return its
    post-fold row count (≤ k; the count is one scan of a ≤k-row table).
    Plain function (the ``foreachBatch`` sink calls it) so replay
    semantics are directly testable without driving a stream: a batch
    at or below the mark already folded — skip both the recompute and
    the rewrite.

    State layout: ``{reservoir_path}/rows`` holds the ≤k-row sample
    (document columns + ``aes_key``);
    ``{reservoir_path}/_ingest_batches/<namespace>/_last_batch`` is
    the replay high-water mark (``marker_namespace`` scopes it because
    batch_id is unique only within one checkpoint lineage — see
    ``streaming.embeddings``). A lost mark merely re-folds, and the
    fold is id-idempotent."""
    ns = f"{marker_namespace}/" if marker_namespace else ""
    mark_file = f"{reservoir_path}/_ingest_batches/{ns}_last_batch"
    rows_path = f"{reservoir_path}/rows"
    # A fold that crashed between staged_overwrite's two renames leaves
    # `rows` missing and `rows.stage_old` holding the pre-crash
    # reservoir. Reading "missing" as "first batch" here would SILENTLY
    # RESET the reservoir to the current batch (r11 review) — restore
    # the pre-swap state first; the interrupted batch has no mark yet,
    # so it re-folds idempotently on top of the restored rows.
    recover_staged(spark, rows_path)
    mark = read_mark(spark, mark_file)
    if mark is None or mark < batch_id:
        prev = (
            spark.read.parquet(rows_path)
            if fs_exists(spark, rows_path)
            else None
        )
        folded = weighted_sample_incremental(
            batch_df, prev, weight_col, k, id_col
        )
        staged_overwrite(spark, folded, rows_path)
        # mark AFTER the swap: a crash before it re-folds an
        # already-absorbed batch on replay, which the id-idempotent
        # fold turns into a no-op (module docstring)
        advance_mark(spark, mark_file, batch_id)
    return spark.read.parquet(rows_path).count()


def start_streaming_weighted_sample(
    spark: SparkSession,
    drop_dir: str,
    reservoir_path: str,
    weight_col: str = "n_chars",
    k: int = 1000,
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
    on_fold: Callable[[int, int], None] | None = None,
):
    """Continuous drop-dir → weighted reservoir: every micro-batch of
    documents folds into the persisted ≤k-row sample (replay-guarded
    twice over — module docstring), and ``on_fold(batch_id, n_rows)``
    reports the post-fold size for metrics/logs. Returns the
    StreamingQuery; read the sample any time with
    ``spark.read.parquet(f"{reservoir_path}/rows")`` (drop ``aes_key``
    downstream).

    Scale: per micro-batch the work is O(batch) keying + a top-k over
    (k + batch) rows + a ≤k-row state rewrite — constant in corpus
    size, which is the whole point; the corpus is never rescanned."""
    checkpoint = checkpoint_dir or f"{reservoir_path}/_fold_checkpoint"
    import hashlib

    namespace = hashlib.md5(checkpoint.encode()).hexdigest()[:12]

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n = reservoir_fold_batch(
            spark,
            reservoir_path,
            batch_df,
            batch_id,
            weight_col,
            k,
            id_col,
            marker_namespace=namespace,
        )
        if on_fold is not None:
            on_fold(batch_id, n)

    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def score_documents_batch(
    spark: SparkSession,
    model,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Score one micro-batch against a frozen DSIR model and land it at
    ``{output_dir}/scored/batch_id=N`` (document columns +
    ``n_features`` + ``importance_micronats``); returns the batch row
    count. Plain function (the ``foreachBatch`` sink calls it) so
    replay semantics are directly testable without driving a stream.

    EVERY batch row lands: the join back to the scores is LEFT, so a
    NULL-text document (which the scorer excludes — it has no feature
    rows) survives with NULL ``n_features``/``importance_micronats``
    instead of silently vanishing from the scored corpus, and the
    returned count is the true batch size. The row count is read from
    the just-written parquet footers — counting the pre-write frame
    would re-execute the whole scoring pipeline as a second job.

    REPLAY-IDEMPOTENT WITHOUT MARKERS: scoring is stateless — the model
    is frozen, so a re-delivered batch recomputes byte-identical rows
    and the per-batch-directory ``mode('overwrite')`` rewrite is a
    no-op in effect. No cross-batch state means no crash window at all
    (contrast the reservoir fold above, which must guard its
    read-modify-write)."""
    from sales_data_warehouse_spark.operators.sampling import (
        score_with_model,
    )

    scored = score_with_model(model, batch_df, text_col, id_col)
    out = batch_df.join(scored, id_col, "left")
    path = f"{output_dir}/scored/batch_id={batch_id}"
    out.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def start_streaming_importance_scores(
    spark: SparkSession,
    drop_dir: str,
    model_path: str,
    output_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
    on_batch: Callable[[int, int], None] | None = None,
):
    """Continuous drop-dir → DSIR-scored documents: every micro-batch
    is scored against the PERSISTED model
    (``operators.sampling.load_importance_model`` — fit once offline,
    never re-read the target corpus) and landed per-batch under
    ``{output_dir}/scored/``; ``on_batch(batch_id, n_rows)`` reports
    progress. Returns the StreamingQuery; the scored corpus is
    ``spark.read.parquet(f"{output_dir}/scored")`` any time.

    Why ``foreachBatch`` and not a pure streaming plan: the per-doc
    score is a grouped aggregate over the exploded features, and a
    streaming groupBy would hold every doc's partial state forever
    (Spark cannot know a document never spans micro-batches); inside
    foreachBatch the batch is a plain DataFrame and the aggregate
    completes per trigger. The reopened score table is persisted once
    at start so long-running streams don't re-scan the model parquet
    every trigger (it is vocabulary-sized — ≤ num_buckets rows in
    hashed mode; released when the session ends).

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE, enforced: batch_id is
    unique only within a checkpoint lineage (the reservoir fold's
    namespacing rationale), so restarting against the same
    ``output_dir`` with a different checkpoint would overwrite
    ``scored/batch_id=0`` with a new lineage's rows while stale
    partitions 1..N from the old lineage persist — a silently
    corrupted read-back. Enforced by
    ``compaction.enforce_output_lineage`` (shared by every streaming
    starter in the package with lineage-keyed output — this module's
    reservoir fold is the documented exemption: its markers are
    namespaced by checkpoint digest and the fold is id-idempotent, so
    a second lineage is SAFE there by design): a mismatched checkpoint —
    or a deleted one under a stamped output_dir — raises instead of
    mixing lineages (use a fresh output_dir, or keep the original
    checkpoint)."""
    from pyspark import StorageLevel

    from sales_data_warehouse_spark.operators.sampling import (
        load_importance_model,
    )
    from sales_data_warehouse_spark.sources.compaction import (
        enforce_output_lineage,
    )

    checkpoint = checkpoint_dir or f"{output_dir}/_score_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint,
        "start_streaming_importance_scores",
    )

    model = load_importance_model(spark, model_path)
    model.scores = model.scores.persist(StorageLevel.MEMORY_AND_DISK)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        n = score_documents_batch(
            spark, model, batch_df, batch_id, output_dir,
            text_col, id_col,
        )
        if on_batch is not None:
            on_batch(batch_id, n)

    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
