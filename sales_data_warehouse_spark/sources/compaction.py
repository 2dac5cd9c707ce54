"""Small-files compaction for parquet tables.

Incremental pipelines accrete files: ``run_etl_increment`` and the
warehouse stream write a few files per drop into the drop's own
``batch_id`` partition, other streaming sinks append per micro-batch —
after a thousand batches a 100 TB table is millions of tiny files and
every scan pays open/footer/seek costs per file (plus driver-side
listing memory). Compaction rewrites a table (or one partition of it)
into size-targeted files, optionally sorted so min/max footer stats
prune within the partition.

Shape at scale: ONE job per compaction — a scan, an exchange to
``ceil(bytes / target)`` partitions (range exchange when sort columns
are given: globally sorted output files with tight, non-overlapping
min/max bounds — the same pruning contract as ``sources.zorder``, one
dimension), and a write. The swap is ``staged_overwrite``'s two
renames via the Hadoop FileSystem API, so it works on any
Hadoop-compatible store; the old data directory survives until the new
one is fully written (crash before the swap leaves the table untouched;
crash between renames is restored by ``recover_staged``).

The module also holds the Hadoop FileSystem helpers the streaming
sinks share, among them the one replay mark every marked
``foreachBatch`` sink reads and advances (``read_mark``,
``advance_mark``). The warehouse sinks (``etl._fold`` and the
streaming ETL sink) need no mark: each overwrites its own ``batch_id``
partition, so a replay rewrites what it wrote before.
"""

from __future__ import annotations

import math

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Path existence through the Hadoop FileSystem API — correct for
    HDFS/object-store URIs where ``os.path.exists`` is always False."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def fs_stamp(spark: SparkSession, path: str) -> tuple[int, int] | None:
    """``path``'s (modification time, length) from its file system, or
    None where no stamp can vouch for the contents: a missing path, or
    a store that reports modification time 0 (object-store
    directories)."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    try:
        status = fs.getFileStatus(hpath)
    except Py4JJavaError as e:
        name = e.java_exception.getClass().getName()
        if name == "java.io.FileNotFoundException":
            return None
        raise
    mtime = status.getModificationTime()
    return None if mtime == 0 else (int(mtime), int(status.getLen()))


def fs_qualify(spark: SparkSession, path: str) -> str:
    """``path`` fully qualified by its file system (scheme, authority,
    absolute path), so every spelling of one location reads the same."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return str(fs.makeQualified(hpath).toString())


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the Hadoop FileSystem API (same
    any-store rationale as :func:`fs_exists`); returns whether the path
    existed."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.delete(hpath, True))


def fs_rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename through the Hadoop FileSystem API (any-store rationale of
    :func:`fs_exists`). Hadoop semantics: fails (returns False) if
    ``dst`` exists — callers wanting replace must delete first and own
    that crash window."""
    fs, hsrc, jvm = _hadoop_fs(spark, src)
    hdst = jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(hsrc, hdst))


def fs_replace(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` over ``dst``, replacing it if it exists: Hadoop's
    ``FileContext.rename`` with ``Options.Rename.OVERWRITE`` (a plain
    :func:`fs_rename` returns False over an existing ``dst`` and keeps
    the old file). Raises on failure."""
    _, hsrc, jvm = _hadoop_fs(spark, src)
    hdst = jvm.org.apache.hadoop.fs.Path(dst)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        hdst.toUri(), spark._jsc.hadoopConfiguration()
    )
    Rename = jvm.org.apache.hadoop.fs.Options.Rename
    opts = spark.sparkContext._gateway.new_array(Rename, 1)
    opts[0] = Rename.OVERWRITE
    fc.rename(hsrc, hdst, opts)


def fs_mkdirs(spark: SparkSession, path: str) -> bool:
    """mkdir -p through the Hadoop FileSystem API."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    return bool(fs.mkdirs(hpath))


def fs_ls(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES (not full paths) of a directory; empty list if
    the path does not exist."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    return [str(st.getPath().getName()) for st in fs.listStatus(hpath)]


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write a small ASCII marker/manifest file through the Hadoop
    FileSystem API (overwrite). Underscore-prefixed names placed inside
    a parquet directory are invisible to scans (Spark's file index
    skips ``_``/``.`` entries), which is what makes per-part generation
    markers safe to co-locate with the data they describe."""
    fs, hpath, _ = _hadoop_fs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.writeBytes(text)
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Read back a :func:`fs_write_text` marker's first line; ``None``
    if the file does not exist."""
    fs, hpath, jvm = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        reader = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream)
        )
        line = reader.readLine()
        return "" if line is None else str(line)
    finally:
        stream.close()


def read_mark(spark: SparkSession, path: str) -> int | None:
    """A ``foreachBatch`` sink's replay high-water mark: the id of the
    last batch whose output committed, or ``None`` when the mark is
    missing or does not parse (the sink then treats the batch as not
    yet committed)."""
    try:
        return int(fs_read_text(spark, path))
    except (TypeError, ValueError):
        return None


def advance_mark(spark: SparkSession, path: str, batch_id: int) -> None:
    """Advance a replay mark to ``batch_id`` once the batch's output has
    committed: write ``path + '.tmp'``, then rename it over the mark
    (:func:`fs_replace`). A reader sees the mark absent, old or
    complete, never torn; a crash before the rename leaves the old
    mark and a stale ``.tmp`` that the next advance overwrites. A
    crash between the output commit and this call leaves the old mark,
    so the batch replays; each sink documents what that replay does."""
    tmp = path + ".tmp"
    fs_write_text(spark, tmp, str(batch_id))
    fs_replace(spark, tmp, path)


def enforce_output_lineage(
    spark: SparkSession, output_dir: str, checkpoint: str, caller: str
) -> None:
    """ONE OUTPUT DIR = ONE CHECKPOINT LINEAGE, enforced before a
    stream starts. ``batch_id`` is unique only WITHIN a checkpoint
    lineage: re-driving the same ``output_dir`` under a different
    lineage restarts batch ids at 0, so a sink that keys its output on
    ``batch_id`` mixes partitions from two lineages (duplicate rows on
    read-back); a sink whose replay detection compares against a
    high-water mark silently SKIPS batches the new lineage has never
    folded — for the dedup sink that is permanent, unreported document
    loss; an append-only sink re-appends every already-processed file
    (the new lineage forgets the source offsets); and a pure-plan file
    sink's ``_spark_metadata`` log — which lives inside the output
    path and outlives the checkpoint — makes FileStreamSink skip the
    new lineage's early batches as already-committed. Every streaming
    starter in the package whose output would corrupt one of those
    ways calls this guard; the two that do NOT are lineage-safe by
    design and must stay unguarded: the weighted-reservoir fold
    (markers namespaced by checkpoint digest + id-idempotent re-fold)
    and the IVF appender (``save_ivf_index`` clears its replay markers
    so a rebuilt index deliberately hands the path to a fresh lineage
    — pinned in ``test_round10_ops``). The guard stamps a marker on
    first start and refuses two ways:

    * a DIFFERENT checkpoint path over a stamped ``output_dir``
      (digest mismatch), and
    * the SAME checkpoint path whose directory no longer exists — the
      delete-the-checkpoint restart. Same digest, new lineage; the
      marker alone cannot see it, the existence check can.

    Crash window: the stamp lands immediately before ``start()``
    creates the checkpoint, so a crash between the two makes the next
    start raise the second arm spuriously — loud, with the remedy in
    the message; the price of refusing silent corruption by default.
    """
    import hashlib

    lineage = hashlib.md5(checkpoint.encode()).hexdigest()[:12]
    marker = f"{output_dir}/_lineage"
    stamped = fs_read_text(spark, marker)
    if stamped is None:
        fs_write_text(spark, marker, lineage)
        return
    if stamped.strip() != lineage:
        raise ValueError(
            f"{caller}: {output_dir} was written by checkpoint "
            f"lineage {stamped.strip()!r}; restarting it under "
            f"lineage {lineage!r} would mix batch_id partitions from "
            "two lineages. Use a fresh output_dir, or keep the "
            "original checkpoint location."
        )
    if not fs_exists(spark, checkpoint):
        raise ValueError(
            f"{caller}: {output_dir} is stamped with this checkpoint "
            f"path's lineage, but {checkpoint} does not exist — the "
            "checkpoint was deleted (or never created), so batch ids "
            "would restart at 0 over this directory's existing "
            "batch_id output. Use a fresh output_dir or restore the "
            "checkpoint; if this is a crash before the first trigger, "
            f"delete {marker} and restart."
        )


def recover_staged(spark: SparkSession, path: str) -> bool:
    """Restore ``path`` after a :func:`staged_overwrite` that crashed
    between its two renames (``path`` missing, ``path + '.stage_old'``
    holding the pre-swap table). Returns True when a recovery rename
    happened. CALL THIS BEFORE READING state that is maintained via
    staged_overwrite: treating the missing directory as "no state yet"
    silently resets the state to the current batch — the exact
    data-loss mode the staging swap exists to prevent (r11 review:
    the streaming weighted reservoir did precisely that)."""
    old = path + ".stage_old"
    if fs_exists(spark, path) or not fs_exists(spark, old):
        return False
    fs, hpath, jvm = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(P(old), hpath):
        raise IOError(
            f"recover_staged: {path} is missing and {old} could not be "
            "renamed back — manual recovery required"
        )
    return True


def staged_overwrite(
    spark, df, path: str, partition_by: list[str] | None = None
) -> None:
    """Overwrite ``path`` with ``df`` crash-safely: write to a staging
    dir, then swap via two renames. A plain ``mode('overwrite')``
    deletes the old data before the new job commits — a mid-write crash
    destroys the only durable copy. A crash here instead leaves either
    the old table intact (before the first rename) or both directories
    present for recovery (``path + '.stage_old'`` — readers of
    staged-overwrite-maintained state should call :func:`recover_staged`
    before treating a missing ``path`` as empty state).

    ``partition_by`` preserves a Hive-partitioned layout through the
    staging dir (the text/phrase index postings are partitioned by
    ``pbucket`` so searches prune to the queried buckets — the swap
    must not flatten that)."""
    tmp = path + ".stage_tmp"
    old = path + ".stage_old"
    # A prior mid-swap crash leaves `old` as the ONLY durable copy
    # (path missing); the unconditional delete(old) below would destroy
    # it. Restore first — the caller's df was built against whatever
    # state it read, but the data must never be erased here.
    recover_staged(spark, path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    fs, _, jvm = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    fs.delete(P(old), True)
    if fs.exists(P(path)):
        if not fs.rename(P(path), P(old)):
            raise IOError(f"staged_overwrite: could not stage {path}")
    if not fs.rename(P(tmp), P(path)):
        fs.rename(P(old), P(path))
        raise IOError(f"staged_overwrite: could not swap into {path}")
    fs.delete(P(old), True)


def staged_overwrite_dir(
    spark,
    parts: dict,
    path: str,
    finalize=None,
) -> None:
    """Atomically overwrite a MULTI-PART state directory — an index's
    postings + stats, a model's scores + stats — as ONE swap.

    :func:`staged_overwrite` makes each part individually crash-safe,
    but two independent swaps are not atomic as a PAIR: a crash
    between them leaves new postings next to stale stats, and after
    ``recover_staged`` the reopened index silently scores with the
    wrong ``n_docs``/``t_tokens`` (r12 review finding). Here every
    part is written under a single staging directory and the PARENT
    swaps via the same two renames, so readers only ever see
    generation-consistent pairs: either the whole old directory or
    the whole new one.

    ``parts`` maps a relative subdirectory name to ``(df,
    partition_by)`` where ``partition_by`` is ``None`` or a list of
    columns (preserving Hive layouts through the staging dir, the
    :func:`staged_overwrite` contract). Crash windows: during the part
    writes the live ``path`` is untouched (a stale ``.stage_tmp`` is
    deleted by the next save); between the two renames
    :func:`recover_staged` on the PARENT restores the previous
    generation — callers that maintain state through this function
    must recover the parent before treating a missing ``path`` as
    empty, exactly as with single-part staging. Re-save-to-same-path
    is safe for the same reason as :func:`staged_overwrite`: the new
    parts' write plans may lazily read ``{path}/<part>``, and the
    source directory survives untouched until the new generation is
    fully written.

    ``finalize(tmp_path)``, when given, runs after every part is
    written and BEFORE the swap — the hook for stamping sidecar
    markers (e.g. the IVF index's per-part ``_generation`` files) so
    the renamed-in directory is complete the instant it becomes
    visible; nothing should ever write into ``path`` itself after the
    swap to "finish" it."""
    if not parts:
        raise ValueError(
            "staged_overwrite_dir: parts is empty — refusing to swap "
            f"{path} to nothing (use fs_delete to drop state)"
        )
    tmp = path + ".stage_tmp"
    old = path + ".stage_old"
    # A prior mid-swap crash leaves `old` as the ONLY durable copy —
    # restore before the unconditional delete(old) below (the
    # staged_overwrite contract).
    recover_staged(spark, path)
    fs, _, jvm = _hadoop_fs(spark, path)
    P = jvm.org.apache.hadoop.fs.Path
    # stale staging from a save that crashed mid-part-write (the
    # single-part variant lets mode('overwrite') clobber its tmp; a
    # multi-part tmp may hold a PARTIAL part set and must go wholesale)
    fs.delete(P(tmp), True)
    for rel, (df, partition_by) in parts.items():
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(f"{tmp}/{rel}")
    if finalize is not None:
        finalize(tmp)
    fs.delete(P(old), True)
    if fs.exists(P(path)):
        if not fs.rename(P(path), P(old)):
            raise IOError(
                f"staged_overwrite_dir: could not stage {path}"
            )
    if not fs.rename(P(tmp), P(path)):
        fs.rename(P(old), P(path))
        raise IOError(
            f"staged_overwrite_dir: could not swap into {path}"
        )
    fs.delete(P(old), True)


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FS API (works for
    local paths, HDFS, and object stores with Hadoop connectors)."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def compact_table(
    spark: SparkSession,
    path: str,
    sort_cols: list[str] | None = None,
    target_file_mb: int = 128,
) -> int:
    """Rewrite the parquet table at ``path`` into
    ``ceil(total_bytes / target_file_mb)`` files; returns the new file
    count. With ``sort_cols``, data is range-partitioned + sorted
    within files so every output file covers a tight, non-overlapping
    key range (footer min/max pruning).

    The rewrite is swapped in by :func:`staged_overwrite`: the source
    is never overwritten while a plan still reads it, and a crash
    between its two renames is restored by :func:`recover_staged`,
    which runs first here.

    Hive-partitioned tables (``key=value`` subdirectories, e.g. the
    month-partitioned fact) are REFUSED at the root: reading the root
    would lift the partition key into a data column and the rewrite
    would flatten the directory layout, destroying partition pruning.
    Compact each partition subdirectory instead — which is also the
    natural maintenance unit (only active partitions accrete files).
    """
    recover_staged(spark, path)
    fs, hpath, _ = _hadoop_fs(spark, path)
    part_dirs = [
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and "=" in st.getPath().getName()
    ]
    if part_dirs:
        raise ValueError(
            f"compact_table: {path} is hive-partitioned "
            f"({part_dirs[0]}, ...); compacting the root would flatten "
            "the partition layout. Compact per partition: "
            f"compact_table(spark, '{path}/{part_dirs[0]}', ...)"
        )
    total = table_bytes(spark, path)
    n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    staged_overwrite(spark, out, path)
    return n_files


def parquet_file_count(spark: SparkSession, path: str) -> int:
    """Number of data files in the table (driver-side listing; use for
    tests/monitoring, not in job hot paths)."""
    jvm = spark._jvm
    jsc = spark._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    it = fs.listFiles(hpath, True)
    n = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n
