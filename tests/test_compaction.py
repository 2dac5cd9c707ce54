"""compact_table: row preservation, file-count reduction, sorted
min/max pruning bounds, and crash-safe swap semantics."""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sales_data_warehouse_spark.sources.compaction import (
    compact_table,
    parquet_file_count,
    table_bytes,
)


def _fragmented(spark, path, rows=20000, files=40):
    (
        spark.range(0, rows)
        .withColumn("k", F.col("id") % 97)
        .withColumn("payload", F.md5(F.col("id").cast("string")))
        .repartition(files)
        .write.mode("overwrite")
        .parquet(path)
    )


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "frag")
    _fragmented(spark, path)
    before_files = parquet_file_count(spark, path)
    before = sorted(
        map(tuple, spark.read.parquet(path).collect())
    )
    assert before_files == 40

    n = compact_table(spark, path, target_file_mb=128)
    assert n == 1  # tiny table -> one file target
    assert parquet_file_count(spark, path) == 1
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    # tmp/old staging dirs cleaned up
    assert not (tmp_path / "frag.stage_tmp").exists()
    assert not (tmp_path / "frag.stage_old").exists()


def test_compact_table_recovers_a_swap_crashed_between_renames(
    spark, tmp_path
):
    """compact_table swaps through staged_overwrite, so a crash between
    its two renames (the table moved to ``path + '.stage_old'``, the
    rewrite left at ``.stage_tmp``) is restored by recover_staged — on
    its own, and as the first step of the next compact_table."""
    import shutil

    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    path = str(tmp_path / "frag")
    _fragmented(spark, path, rows=2000, files=8)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    shutil.copytree(path, path + ".stage_tmp")
    shutil.move(path, path + ".stage_old")
    assert recover_staged(spark, path)
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before

    shutil.move(path, path + ".stage_old")
    assert compact_table(spark, path) == 1
    assert parquet_file_count(spark, path) == 1
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    assert not (tmp_path / "frag.stage_old").exists()
    assert not (tmp_path / "frag.stage_tmp").exists()


def test_compact_sorted_files_have_disjoint_bounds(spark, tmp_path):
    path = str(tmp_path / "frag_sorted")
    _fragmented(spark, path, rows=200000, files=30)
    assert table_bytes(spark, path) > 3 * 1024 * 1024
    # 1 MB target over a >3 MB table -> several sorted output files
    n = compact_table(spark, path, sort_cols=["id"], target_file_mb=1)
    assert n >= 3
    # each file's id range must not overlap any other's (footer pruning)
    bounds = []
    for f in (tmp_path / "frag_sorted").iterdir():
        if f.name.startswith(("_", ".")) or not f.name.endswith(".parquet"):
            continue
        md = pq.read_metadata(str(f))
        los, his = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # id
            los.append(col.statistics.min)
            his.append(col.statistics.max)
        bounds.append((min(los), max(his)))
    bounds.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(bounds, bounds[1:]):
        assert hi1 < lo2, bounds
    # and the union covers all rows
    assert spark.read.parquet(path).count() == 200000


def test_staged_overwrite_survives_swap_failure(spark, tmp_path):
    """If the final rename-in cannot complete, the original table must
    be restored (the rollback path)."""
    from unittest.mock import patch

    from sales_data_warehouse_spark.sources import compaction
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite,
    )

    path = str(tmp_path / "t")
    spark.range(0, 100).write.parquet(path)
    new = spark.range(100, 150)

    real_fs = compaction._hadoop_fs

    class FlakyFs:
        """Proxy that fails the rename INTO the target path once."""

        def __init__(self, fs, target):
            self._fs = fs
            self._target = target

        def rename(self, src, dst):
            if str(dst).endswith(self._target.rsplit("/", 1)[-1]) and str(
                src
            ).endswith(".stage_tmp"):
                return False  # simulated swap failure
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def flaky(spark_, p):
        fs, hp, jvm = real_fs(spark_, p)
        return FlakyFs(fs, path), hp, jvm

    with patch.object(compaction, "_hadoop_fs", flaky):
        import pytest as _pytest

        with _pytest.raises(IOError):
            staged_overwrite(spark, new, path)

    # original data intact after the failed swap
    assert spark.read.parquet(path).count() == 100


def test_staged_overwrite_happy_path(spark, tmp_path):
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite,
    )

    path = str(tmp_path / "t2")
    spark.range(0, 10).write.parquet(path)
    staged_overwrite(spark, spark.range(0, 7), path)
    assert spark.read.parquet(path).count() == 7
    assert not (tmp_path / "t2.stage_tmp").exists()
    assert not (tmp_path / "t2.stage_old").exists()


def test_recover_staged_restores_mid_swap_crash(spark, tmp_path):
    """recover_staged: path missing + .stage_old present (the
    staged_overwrite mid-swap crash) -> renamed back; no-op when the
    path is healthy; staged_overwrite itself recovers first rather
    than deleting the only durable copy."""
    import shutil

    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
        staged_overwrite,
    )

    path = str(tmp_path / "state")
    spark.range(0, 100).write.parquet(path)
    assert recover_staged(spark, path) is False  # healthy: no-op

    shutil.move(path, path + ".stage_old")  # simulate the crash window
    assert recover_staged(spark, path) is True
    assert spark.read.parquet(path).count() == 100

    # writer-side: staged_overwrite onto a crashed state must restore
    # (not delete) the .stage_old copy before its own swap
    shutil.move(path, path + ".stage_old")
    staged_overwrite(spark, spark.range(0, 7), path)
    assert spark.read.parquet(path).count() == 7
    import os

    assert not os.path.exists(path + ".stage_old")


def test_staged_overwrite_preserves_partitioned_layout(spark, tmp_path):
    """partition_by (r12, added for the text/phrase index postings):
    the Hive key=value layout must survive the staging swap — readers
    rely on it for partition pruning — and a re-save whose df is a
    lazy scan of the destination itself must round-trip."""
    import os

    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite,
    )

    path = str(tmp_path / "part")
    df = spark.range(0, 20).withColumn("b", F.pmod("id", F.lit(4)))
    staged_overwrite(spark, df, path, partition_by=["b"])
    dirs = {d for d in os.listdir(path) if d.startswith("b=")}
    assert dirs == {"b=0", "b=1", "b=2", "b=3"}
    # pruning-relevant: a b-filter on the reopened table is a
    # PartitionFilters entry, not a data filter
    reopened = spark.read.parquet(path)
    plan = (
        reopened.filter(F.col("b") == 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*b", plan), plan[:1500]
    # re-save the reopened (lazy-scan-of-destination) table in place
    staged_overwrite(spark, reopened, path, partition_by=["b"])
    again = spark.read.parquet(path)
    assert again.count() == 20
    assert {d for d in os.listdir(path) if d.startswith("b=")} == dirs


def _read_pair(spark, path):
    a = spark.read.parquet(f"{path}/postings")
    b = spark.read.parquet(f"{path}/stats")
    return a.count(), b.collect()[0]["gen"]


def test_staged_overwrite_dir_pair_is_atomic_on_part_failure(
    spark, tmp_path
):
    """THE r12 review finding: two independent per-part swaps leave a
    crash window pairing new postings with stale stats. With the
    whole-directory swap, a save that dies while writing its SECOND
    part must leave the live directory holding the complete OLD
    generation — both parts."""
    import pytest
    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    path = str(tmp_path / "index")
    staged_overwrite_dir(
        spark,
        {
            "postings": (spark.range(0, 100), None),
            "stats": (
                spark.createDataFrame([(1,)], "gen long"), None,
            ),
        },
        path,
    )
    assert _read_pair(spark, path) == (100, 1)

    # generation 2's stats frame raises at evaluation time — the part
    # writes happen in dict order, so postings-v2 lands in the staging
    # dir before the failure
    poison = spark.createDataFrame([(2,)], "gen long").select(
        F.assert_true(F.lit(False)).alias("x"),
        F.col("gen"),
    )
    with pytest.raises(Exception):
        staged_overwrite_dir(
            spark,
            {
                "postings": (spark.range(0, 7), None),
                "stats": (poison, None),
            },
            path,
        )
    # live directory: complete old generation, pair-consistent
    assert _read_pair(spark, path) == (100, 1)

    # and the next save succeeds despite the stale partial .stage_tmp
    staged_overwrite_dir(
        spark,
        {
            "postings": (spark.range(0, 7), None),
            "stats": (
                spark.createDataFrame([(3,)], "gen long"), None,
            ),
        },
        path,
    )
    assert _read_pair(spark, path) == (7, 3)
    import os

    assert not os.path.exists(path + ".stage_tmp")
    assert not os.path.exists(path + ".stage_old")


def test_staged_overwrite_dir_mid_swap_crash_recovers(spark, tmp_path):
    """Parent-level mid-swap crash (path missing, path.stage_old
    intact): recover_staged on the PARENT restores the whole pair; the
    next save restores before staging rather than deleting the only
    durable copy."""
    import shutil

    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
        staged_overwrite_dir,
    )

    path = str(tmp_path / "index2")
    parts = {
        "postings": (spark.range(0, 50), None),
        "stats": (spark.createDataFrame([(1,)], "gen long"), None),
    }
    staged_overwrite_dir(spark, parts, path)
    shutil.move(path, path + ".stage_old")
    assert recover_staged(spark, path) is True
    assert _read_pair(spark, path) == (50, 1)

    shutil.move(path, path + ".stage_old")
    staged_overwrite_dir(
        spark,
        {
            "postings": (spark.range(0, 9), None),
            "stats": (
                spark.createDataFrame([(2,)], "gen long"), None,
            ),
        },
        path,
    )
    assert _read_pair(spark, path) == (9, 2)


def test_staged_overwrite_dir_preserves_partitioned_parts(
    spark, tmp_path
):
    """partition_by flows through per part (the text/phrase index
    postings are pbucket-partitioned), and a re-save whose parts are
    lazy scans of the destination itself round-trips — the
    reopen-then-resave shape of every persisted index."""
    import os

    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    path = str(tmp_path / "index3")
    staged_overwrite_dir(
        spark,
        {
            "postings": (
                spark.range(0, 20).withColumn(
                    "b", F.pmod("id", F.lit(4))
                ),
                ["b"],
            ),
            "stats": (
                spark.createDataFrame([(1,)], "gen long"), None,
            ),
        },
        path,
    )
    dirs = {
        d
        for d in os.listdir(f"{path}/postings")
        if d.startswith("b=")
    }
    assert dirs == {"b=0", "b=1", "b=2", "b=3"}
    reopened = spark.read.parquet(f"{path}/postings")
    restats = spark.read.parquet(f"{path}/stats")
    staged_overwrite_dir(
        spark,
        {"postings": (reopened, ["b"]), "stats": (restats, None)},
        path,
    )
    assert _read_pair(spark, path) == (20, 1)
    assert {
        d
        for d in os.listdir(f"{path}/postings")
        if d.startswith("b=")
    } == dirs


def test_staged_overwrite_dir_survives_swap_failure(spark, tmp_path):
    """If the final rename-in cannot complete, the original directory
    must be restored (the rollback path of the single-part variant,
    pinned for the multi-part swap too)."""
    from unittest.mock import patch

    import pytest

    from sales_data_warehouse_spark.sources import compaction
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    path = str(tmp_path / "idx")
    parts_v1 = {
        "postings": (spark.range(0, 40), None),
        "stats": (spark.createDataFrame([(1,)], "gen long"), None),
    }
    staged_overwrite_dir(spark, parts_v1, path)

    real_fs = compaction._hadoop_fs

    class FlakyFs:
        """Proxy that fails the rename INTO the target path once."""

        def __init__(self, fs, target):
            self._fs = fs
            self._target = target

        def rename(self, src, dst):
            if str(dst).endswith(
                self._target.rsplit("/", 1)[-1]
            ) and str(src).endswith(".stage_tmp"):
                return False  # simulated swap failure
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def flaky(spark_, p):
        fs, hp, jvm = real_fs(spark_, p)
        return FlakyFs(fs, path), hp, jvm

    with patch.object(compaction, "_hadoop_fs", flaky):
        with pytest.raises(IOError, match="could not swap"):
            staged_overwrite_dir(
                spark,
                {
                    "postings": (spark.range(0, 9), None),
                    "stats": (
                        spark.createDataFrame([(2,)], "gen long"),
                        None,
                    ),
                },
                path,
            )

    # original pair intact after the failed swap
    assert _read_pair(spark, path) == (40, 1)


def test_enforce_output_lineage_three_arms(spark, tmp_path):
    """The shared foreachBatch-sink guard (r14): first start stamps;
    a different checkpoint over a stamped output_dir refuses; the SAME
    checkpoint whose directory was deleted refuses too (same digest,
    new lineage — batch ids would restart at 0 over existing batch_id
    output, and a high-water-mark sink would silently skip them); the
    documented remedy (delete the marker) re-arms a fresh stamp."""
    import shutil

    import pytest

    from sales_data_warehouse_spark.sources.compaction import (
        enforce_output_lineage,
    )

    out = str(tmp_path / "out")
    ckpt = tmp_path / "ckpt"
    # first start: stamps and returns (start() has not created the
    # checkpoint yet — that is the normal order)
    enforce_output_lineage(spark, out, str(ckpt), "t")
    assert (tmp_path / "out" / "_lineage").is_file()
    ckpt.mkdir()  # simulate start() creating the checkpoint
    # clean restart, same lineage: passes
    enforce_output_lineage(spark, out, str(ckpt), "t")
    # arm 1: different checkpoint path over the stamped output_dir
    with pytest.raises(ValueError, match="lineage"):
        enforce_output_lineage(spark, out, str(tmp_path / "ckpt2"), "t")
    # arm 2: same checkpoint path, directory deleted
    shutil.rmtree(ckpt)
    with pytest.raises(ValueError, match="does not exist"):
        enforce_output_lineage(spark, out, str(ckpt), "t")
    # remedy from the arm-2 message: remove the marker, start fresh
    (tmp_path / "out" / "_lineage").unlink()
    enforce_output_lineage(spark, out, str(ckpt), "t")
