"""Streaming document dedup: a drop-directory stream of document
parquet files, each micro-batch deduplicated against the persisted
fingerprint state of everything admitted so far.

This is the streaming shape of ``dedup.incremental_exact_dedup`` — the
ingestion front door of a growing pre-training corpus: per batch the
work is O(batch) fingerprinting plus one join against the fingerprint
table; admitted history is never re-read or re-hashed.

Replay safety follows the module conventions (see
``streaming/dimensions.py``): admitted docs land in a ``batch_id=N``
directory with per-batch overwrite; the fingerprint state is
APPEND-ONLY — each fold writes only its batch's fresh fingerprints as
their own ``fingerprints/fp/batch_id=N`` partition, AFTER the admitted
write, then advances the ``_last_batch`` high-water mark with
``compaction.advance_mark``. Prior state is always read
partition-pruned to ``<= mark``, so an uncommitted or ahead-of-mark
partition is invisible; a replayed batch either recomputes identically
(crash before the mark advanced) or is skipped by an O(1) mark
comparison (crash after — the one case where recomputing would wrongly
admit nothing and overwrite the batch's output with an empty
directory). The full crash-window walkthrough lives on
``dedup_documents_batch``.

Why append-only: a state rewritten whole every fold costs O(state)
writes per micro-batch, which at 100 TB (|distinct texts| rows) dwarfs
the O(batch) work the fold actually does. Partition pruning plus the
per-partition ``_SUCCESS`` job-commit markers give the same guarantees
at delta cost. ``compact_dedup_state`` bounds the partition count when
triggers accumulate; correctness never depends on it, and every fold
and read first finishes a compaction that crashed mid-commit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_data_warehouse_spark.operators.dedup import (
    incremental_exact_dedup,
)
from sales_data_warehouse_spark.sources.compaction import (
    advance_mark,
    enforce_output_lineage,
    fs_delete,
    fs_exists,
    fs_ls,
    fs_mkdirs,
    fs_rename,
    read_mark,
)

#: documents-table schema (streaming sources need it declared).
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, drop_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a documents drop directory (parquet).
    One file per trigger by default so multi-file backfills exercise
    the batch-over-batch state path instead of collapsing into one
    giant batch.

    Drop-dir gotcha: Spark's file source does not recurse, and a
    "file" written by Spark itself (``df.write.parquet(drop/x)``) is a
    DIRECTORY — point the stream at ``drop_dir + "/*"`` in that case
    or the source silently finds zero files. Plain parquet files
    (e.g. ``pyarrow.parquet.write_table``) work with the bare dir."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drop_dir)
    )


def _must_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename or die loudly: every state-layout rename below moves the
    ONLY copy of some rows, so a silent False from the Hadoop rename
    (dst exists, src vanished, permission) must never read as success
    — the next reader would see a state with those rows invisible."""
    if not fs_rename(spark, src, dst):
        raise IOError(
            f"state rename failed: {src} -> {dst} (does the "
            "destination already exist?). The state layout is "
            "mid-transition; resolve the paths before restarting."
        )


def _committed_batches(spark: SparkSession, part_dir: str) -> list[int]:
    """batch ids of fully-written ``batch_id=N`` state partitions —
    those whose directory carries the ``_SUCCESS`` job-commit marker. A
    partition WITHOUT it is a crashed in-flight write and must not
    count."""
    out = []
    for name in fs_ls(spark, part_dir):
        if not name.startswith("batch_id="):
            continue
        try:
            b = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if fs_exists(spark, f"{part_dir}/{name}/_SUCCESS"):
            out.append(b)
    return sorted(out)


def _finish_compaction(
    spark: SparkSession, part_dir: str, tmp: str, last: int, target: int
) -> None:
    """Commit a staged compaction: ``tmp`` holds the union of every
    committed partition with id <= ``last``; delete those partitions
    and rename ``tmp`` into ``batch_id=<target>``. The staged table
    survives until the final rename, so a crash anywhere in here is
    finished by calling this again with the same arguments."""
    for b in _committed_batches(spark, part_dir):
        if b <= last:
            fs_delete(spark, f"{part_dir}/batch_id={b}")
    fs_mkdirs(spark, part_dir)
    _must_rename(spark, tmp, f"{part_dir}/batch_id={target}")


def _compact_partitions(
    spark: SparkSession, part_dir: str, tmp: str, last: int, target: int
) -> int:
    """Merge every committed partition with id <= ``last`` into
    ``batch_id=<target>`` and return how many were merged (nothing is
    rewritten for one or none). The union is written fully to ``tmp``
    before anything is deleted, then :func:`_finish_compaction`
    commits it. Must not run concurrently with a fold."""
    sources = [b for b in _committed_batches(spark, part_dir) if b <= last]
    if len(sources) <= 1:
        return len(sources)
    (
        spark.read.parquet(part_dir)
        .filter(F.col("batch_id") <= last)
        .drop("batch_id")
        .write.mode("overwrite")
        .parquet(tmp)
    )
    _finish_compaction(spark, part_dir, tmp, last, target)
    return len(sources)


def _state_mark(spark: SparkSession, state_path: str) -> int | None:
    """The state's high-water mark: every batch with id <= mark is
    fully folded. The ``_last_batch`` mark is the O(1) fast path; a
    missing or unparsable mark falls back to the authoritative scan of
    partition ``_SUCCESS`` markers — each partition's job commit IS
    atomic, so the max committed partition id is exactly the mark."""
    mark = read_mark(spark, f"{state_path}/_last_batch")
    if mark is not None:
        return mark
    done = _committed_batches(spark, f"{state_path}/fp")
    return done[-1] if done else None


def _recover_fp_compaction(spark: SparkSession, state_path: str) -> None:
    """Finish a :func:`compact_dedup_state` that crashed mid-commit
    (the staged ``fp_compact_tmp_<M>`` holds the full state <= M).
    Idempotent; called before every state read."""
    for name in fs_ls(spark, state_path):
        if name.startswith("fp_compact_tmp_"):
            m = int(name.rsplit("_", 1)[1])
            _finish_compaction(
                spark, f"{state_path}/fp", f"{state_path}/{name}", m, m
            )


def read_dedup_state(spark: SparkSession, output_dir: str) -> DataFrame:
    """The streaming exact-dedup sink's fingerprint state as one
    DataFrame (fp, canonical_id, n_copies) — the union of the
    append-only ``fingerprints/fp/batch_id=N`` partitions, recovered
    first so readers never see a half-committed compaction."""
    state_path = f"{output_dir}/fingerprints"
    _recover_fp_compaction(spark, state_path)
    return spark.read.parquet(f"{state_path}/fp").drop("batch_id")


def compact_dedup_state(spark: SparkSession, output_dir: str) -> int:
    """Maintenance: merge every committed fingerprint partition
    ``<= mark`` into the single partition ``batch_id=<mark>`` and
    return the number of partitions merged. The append-only fold
    (:func:`dedup_documents_batch`) writes one O(batch) partition per
    micro-batch — correct forever, but at high trigger counts the
    partition listing and small files add up; run this occasionally
    (correctness never depends on it — the direct analogue of
    ``rollup.merge_partials`` compaction guidance).

    Crash-safe: the combined table is staged beside the state as
    ``fp_compact_tmp_<mark>`` (written fully before anything is
    deleted), then source partitions are dropped and the staged table
    renamed in. A crash anywhere in the commit is finished by
    ``_recover_fp_compaction`` before the next fold or read. Must not
    run concurrently with a fold."""
    state_path = f"{output_dir}/fingerprints"
    _recover_fp_compaction(spark, state_path)
    mark = _state_mark(spark, state_path)
    if mark is None:
        return 0
    return _compact_partitions(
        spark,
        f"{state_path}/fp",
        f"{state_path}/fp_compact_tmp_{mark}",
        mark,
        mark,
    )


def dedup_documents_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
) -> None:
    """Fold one micro-batch through the fingerprint state. Exposed as a
    plain function (the ``foreachBatch`` sink calls it) so replay
    semantics are directly testable without driving a stream.

    The state is APPEND-ONLY since late r14: each fold writes only its
    batch's fresh fingerprints to ``fingerprints/fp/batch_id=N``
    (``incremental_exact_dedup(delta=True)``) instead of rewriting the
    whole union through a staged swap. That swap made every fold's
    state write O(state) — at 100 TB the fingerprint table is
    |distinct texts| rows, and rewriting it per micro-batch is the
    write-side analogue of the state-sized replay scan r14 already
    removed; the delta write is O(batch), always.

    What the atomic swap used to guarantee, the high-water mark plus
    partition pruning now guarantees without it:

    * prior state is ALWAYS read as ``batch_id <= mark`` (partition
      pruning, not a filter scan), so a partition written by a crashed
      fold — present but ahead of the mark — is invisible until its
      batch replays and overwrites it;
    * replay detection is the O(1) ``mark >= batch_id`` comparison
      (plus the admitted-output existence check), exactly as before;
    * the mark advances through ``compaction.advance_mark`` (a
      temp-file write renamed over the mark), so it reads absent, old
      or complete; absent or unparsable falls back to the
      authoritative max-committed-partition scan (``_SUCCESS`` job
      markers), see :func:`_state_mark`.

    Crash windows, end to end: before the admitted write — replay
    recomputes identically; between admitted and state-partition
    writes — mark unchanged, replay recomputes identically and
    overwrites both; mid-partition-write — partition uncommitted (no
    ``_SUCCESS``) and above the mark, replay overwrites it; between
    partition write and mark advance — replay recomputes against
    ``<= mark`` (its own committed partition excluded by pruning) and
    overwrites idempotently; after the mark — O(1) skip, protecting the
    admitted output from the empty-recompute clobber the detection
    exists for."""
    admitted_path = f"{output_dir}/admitted/batch_id={batch_id}"
    state_path = f"{output_dir}/fingerprints"
    fp_dir = f"{state_path}/fp"

    _recover_fp_compaction(spark, state_path)
    prior = None
    if fs_exists(spark, fp_dir):
        mark = _state_mark(spark, state_path)
        if (
            mark is not None
            and mark >= batch_id
            and fs_exists(spark, admitted_path)
        ):
            return  # state already contains this batch: O(1) skip
        if mark is not None:
            prior = (
                spark.read.parquet(fp_dir)
                .filter(F.col("batch_id") <= mark)
                .drop("batch_id")
            )
    # materialize: the admitted write and the delta write both embed
    # the fresh-fingerprint anti-join — without the checkpoint each
    # fold scans the state TWICE (operator docstring)
    fresh, delta = incremental_exact_dedup(
        batch_df, prior, delta=True, materialize=True
    )
    fresh.write.mode("overwrite").parquet(admitted_path)
    delta.write.mode("overwrite").parquet(f"{fp_dir}/batch_id={batch_id}")
    advance_mark(spark, f"{state_path}/_last_batch", batch_id)


def start_streaming_doc_dedup(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
):
    """Continuous drop-dir -> deduplicated corpus: admitted (first-seen)
    documents land per batch under ``admitted/batch_id=N``; the
    append-only fingerprint partitions under ``fingerprints/fp`` always
    reflect everything admitted (read them as one table with
    :func:`read_dedup_state`; bound their count with
    :func:`compact_dedup_state`). Readers scan ``admitted/`` (batch_id
    appears as a partition column). Returns the StreamingQuery.

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``): this sink is the guard's
    motivating case — besides the batch_id-partition mixing every
    ``foreachBatch`` sink risks, its ``_last_batch`` high-water mark
    would make a NEW lineage's early batches (ids restarting at 0,
    below the old mark) read as already-merged replays and be skipped
    outright: permanent, unreported document loss."""
    checkpoint = checkpoint_dir or f"{output_dir}/_dedup_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint, "start_streaming_doc_dedup"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        dedup_documents_batch(spark, batch_df, batch_id, output_dir)

    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _recover_band_compaction(
    spark: SparkSession, output_dir: str
) -> None:
    """Finish a :func:`compact_band_state` that crashed mid-commit (the
    staged ``band_compact_tmp_<top>`` holds the union of every
    partition BELOW top). Idempotent; runs before every fold."""
    for name in fs_ls(spark, output_dir):
        if name.startswith("band_compact_tmp_"):
            top = int(name.rsplit("_", 1)[1])
            _finish_compaction(
                spark,
                f"{output_dir}/band_state",
                f"{output_dir}/{name}",
                top - 1,
                -1,
            )


def compact_band_state(spark: SparkSession, output_dir: str) -> int:
    """Maintenance for the near-dedup sink's append-only band state:
    merge every committed partition BELOW the newest one into the
    reserved ``batch_id=-1`` partition and return the number merged.
    The newest partition is deliberately left alone — it is the only
    one a checkpoint replay can ever rewrite (earlier batches are
    checkpoint-committed, and the lineage guard forbids a second
    lineage), so excluding it means a post-compaction replay
    overwrites its own partition exactly as before and no state row is
    ever lost or doubled. Same staged commit/recovery shape as
    :func:`compact_dedup_state`; must not run concurrently with a
    fold."""
    state_path = f"{output_dir}/band_state"
    _recover_band_compaction(spark, output_dir)
    parts = _committed_batches(spark, state_path)
    if not parts:
        return 0
    top = parts[-1]
    return _compact_partitions(
        spark, state_path, f"{output_dir}/band_compact_tmp_{top}", top - 1, -1
    )


def read_band_state(spark: SparkSession, output_dir: str) -> DataFrame:
    """The near-dedup sink's band state as one DataFrame (the
    :func:`~sales_data_warehouse_spark.operators.dedup.banded_signatures`
    schema) — the union of the append-only ``band_state/batch_id=N``
    partitions, recovered first so readers never see a half-committed
    compaction (the read-side twin of :func:`read_dedup_state`)."""
    _recover_band_compaction(spark, output_dir)
    return spark.read.parquet(f"{output_dir}/band_state").drop("batch_id")


def near_dedup_documents_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    output_dir: str,
) -> None:
    """Fold one micro-batch through the MinHash band state: emit the
    near-dup pairs this batch introduces (within-batch + new-vs-seen)
    under ``pairs/batch_id=N`` and append the batch's banded rows to
    the persisted band table as their own ``batch_id=N`` partition
    (``incremental_minhash_lsh(delta=True)``) — the state write is
    O(batch), never the |seen docs| x bands rewrite the old staged
    swap paid per fold.

    Replay safety needs NO mark here: pairs recompute identically even
    when the replayed batch's own rows already sit in the state (the
    probe's self-matches are dropped by ``doc_a != doc_b`` and
    duplicates by the (lo, hi) canonical dedup — pinned property of
    the delta mode), and the state partition is overwritten
    idempotently (bucket and signature are pure functions of the doc).
    A partition from a crashed mid-write fold holds a committed subset
    of the batch's rows — extra probe matches against one's own subset
    are the same self/dup cases — and is overwritten by the replay.
    """
    from sales_data_warehouse_spark.operators.dedup import (
        incremental_minhash_lsh,
    )

    state_path = f"{output_dir}/band_state"
    _recover_band_compaction(spark, output_dir)
    prior = (
        spark.read.parquet(state_path).drop("batch_id")
        if fs_exists(spark, state_path)
        else None
    )
    pairs, delta = incremental_minhash_lsh(batch_df, prior, delta=True)
    pairs.write.mode("overwrite").parquet(
        f"{output_dir}/pairs/batch_id={batch_id}"
    )
    delta.write.mode("overwrite").parquet(
        f"{state_path}/batch_id={batch_id}"
    )


def start_streaming_near_dedup(
    spark: SparkSession,
    drop_dir: str,
    output_dir: str,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
):
    """Continuous near-duplicate detection over a document drop
    directory: each micro-batch is MinHash-banded once and probed
    against the persisted band state; the unioned ``pairs/`` output
    equals a full-corpus ``minhash_lsh_pairs`` run over everything
    drained so far (the incremental operator's property). Bound the
    state's partition count occasionally with
    :func:`compact_band_state`. Returns the StreamingQuery.

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``): a second lineage over the
    same ``pairs/`` would overwrite ``batch_id=0`` with new-lineage
    pairs while stale partitions 1..N persist — and its re-probed
    batches would emit pairs the old lineage already emitted, so the
    unioned read-back double-counts."""
    checkpoint = checkpoint_dir or f"{output_dir}/_near_dedup_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint, "start_streaming_near_dedup"
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        near_dedup_documents_batch(spark, batch_df, batch_id, output_dir)

    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_quality_scores(
    spark: SparkSession,
    drop_dir: str,
    classifier_path: str,
    output_dir: str,
    keep_threshold_milli: int = 0,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
):
    """Continuous drop-dir → quality-scored documents with a FITTED
    classifier (the streaming twin of
    ``text.score_with_classifier``; fit once offline with
    ``fit_quality_classifier``, persist, score every arriving shard).

    Unlike the DSIR scorer (``streaming.sampling
    .start_streaming_importance_scores``), this needs NO
    ``foreachBatch``: the apply side is a stateless single-scan
    integer projection — no join, no aggregate, no cross-batch state —
    so it composes as a PURE streaming plan
    (``readStream → projection → writeStream`` append sink), which
    buys exactly-once parquet output from the file-sink commit log
    instead of hand-rolled per-batch idempotence. The model's milli
    weights are read ONCE at start (a 1-row parquet) and baked into
    the plan as literals: long-running streams never re-read the
    model, and there is nothing vocabulary-sized to broadcast.

    Output schema is ``quality_logit``'s (id, n_tokens, punct_ppm,
    stop_ppm, logit_milli, keep) at ``{output_dir}/scored``; read it
    back any time with ``spark.read.parquet``. Returns the
    StreamingQuery.

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``): a pure-plan file sink is
    not exempt — its ``_spark_metadata`` commit log lives INSIDE the
    output path and outlives the checkpoint, so a restart under a
    fresh checkpoint sees the old log's committed batch ids and
    silently SKIPS the new lineage's early batches (FileStreamSink
    treats "batch N committed" as "already written"). Refused at
    start instead."""
    from sales_data_warehouse_spark.operators.text import (
        load_quality_classifier,
        score_with_classifier,
    )

    checkpoint = checkpoint_dir or f"{output_dir}/_quality_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint, "start_streaming_quality_scores"
    )

    clf = load_quality_classifier(spark, classifier_path)
    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    scored = score_with_classifier(
        stream, clf, keep_threshold_milli=keep_threshold_milli
    )
    writer = (
        scored.writeStream.format("parquet")
        .option("path", f"{output_dir}/scored")
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_streaming_ngram_quality_scores(
    spark: SparkSession,
    drop_dir: str,
    classifier_path: str,
    output_dir: str,
    keep_threshold_milli: int = 0,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    max_files_per_trigger: int = 1,
):
    """Continuous drop-dir → content-quality-scored documents with a
    FITTED n-gram classifier (r14; the streaming twin of
    ``text.score_with_ngram_classifier`` — fit once offline with
    ``fit_quality_classifier_ngrams``, persist, score every arriving
    shard against the frozen model).

    Why ``foreachBatch`` and not the scalar scorer's pure streaming
    plan (``start_streaming_quality_scores``): the n-gram score is a
    grouped aggregate over the exploded features — one integer sum per
    document — and a streaming groupBy would hold every document's
    partial state forever (Spark cannot know a document never spans
    micro-batches). Inside ``foreachBatch`` the batch is a plain
    DataFrame: the aggregate completes per trigger, the weight side is
    model-sized and broadcast, and the per-batch work is O(batch).
    The classifier is loaded ONCE at start (weights live in the
    driver-side model object, re-materialized as a tiny local frame
    per batch — nothing vocabulary-scanning per trigger). Scored rows
    land under ``scores/batch_id=N`` with per-batch overwrite; replay
    is idempotent because scoring is stateless.

    ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE
    (``compaction.enforce_output_lineage``, shared by every streaming
    starter in the package with lineage-keyed output — same hazard
    everywhere: ``batch_id`` is unique only within a checkpoint
    lineage, and mixing lineages under one ``scores/`` corrupts
    read-back silently). Returns the StreamingQuery; read the scored
    corpus back any time with
    ``spark.read.parquet(f"{output_dir}/scores")``."""
    from pyspark import StorageLevel

    from sales_data_warehouse_spark.operators.text import (
        load_ngram_classifier,
        ngram_weight_table,
        score_with_ngram_classifier,
    )

    checkpoint = checkpoint_dir or f"{output_dir}/_ngram_checkpoint"
    enforce_output_lineage(
        spark, output_dir, checkpoint,
        "start_streaming_ngram_quality_scores",
    )

    clf = load_ngram_classifier(spark, classifier_path)
    # materialize the model's weight table ONCE (the importance
    # scorer's pattern): without this every trigger pays the
    # driver-side sort + Python-to-JVM ship of the full weight dict —
    # per FILE at the default one-file trigger, and vocabulary-sized
    # at fastText bucket counts
    wt = ngram_weight_table(spark, clf).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    wt.count()

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        score_with_ngram_classifier(
            batch_df, clf,
            keep_threshold_milli=keep_threshold_milli,
            weights_df=wt,
        ).write.mode("overwrite").parquet(
            f"{output_dir}/scores/batch_id={batch_id}"
        )

    stream = read_documents_stream(spark, drop_dir, max_files_per_trigger)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
