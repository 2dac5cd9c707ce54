"""start_streaming_warehouse: two files drained through two separate
availableNow queries (same checkpoint — a real restart) must yield the
same dimensions as the batch pipeline over the full CSV, and the same
warehouse as ``run_etl`` + ``run_etl_increment`` over the same files."""

from __future__ import annotations

import os
import shutil

import pytest

from sales_data_warehouse_spark.etl import run_etl, run_etl_increment
from sales_data_warehouse_spark.streaming.dimensions import (
    start_streaming_warehouse,
)
from tests.conftest import REFERENCE_CSV


def _split_csv(tmp_path):
    """Split the reference CSV by parsed order date (mirrors the
    increment test's cut) into two drop-files."""
    import re

    raw = open(REFERENCE_CSV).read().splitlines()
    header, body = raw[0], raw[1:]

    def half(line: str) -> int:
        m = re.search(r"(\d\d)/(\d\d)/(\d\d) \d\d:\d\d", line)
        if not m:
            return 1
        mm, dd, yy = m.groups()
        return 1 if f"20{yy}-{mm}-{dd}" <= "2019-01-15" else 2

    f1 = tmp_path / "batch1.csv"
    f2 = tmp_path / "batch2.csv"
    f1.write_text(
        "\n".join([header] + [l for l in body if half(l) == 1]) + "\n"
    )
    f2.write_text(
        "\n".join([header] + [l for l in body if half(l) == 2]) + "\n"
    )
    return f1, f2


def test_streaming_dimensions_match_batch(spark, tmp_path):
    f1, f2 = _split_csv(tmp_path)
    drop = tmp_path / "drop"
    drop.mkdir()
    wh = str(tmp_path / "wh")

    # batch reference warehouse over the full CSV
    full = run_etl(spark, REFERENCE_CSV, output_dir=str(tmp_path / "full"))

    # micro-batch 1: first half
    shutil.copy(f1, drop / "batch1.csv")
    q = start_streaming_warehouse(spark, str(drop), wh, available_now=True)
    q.awaitTermination()

    mid_products = spark.read.parquet(f"{wh}/product_dimension").count()

    # micro-batch 2 through a RESTARTED query on the same checkpoint:
    # only the new file is processed, and the merges fold it in
    shutil.copy(f2, drop / "batch2.csv")
    q = start_streaming_warehouse(spark, str(drop), wh, available_now=True)
    q.awaitTermination()

    time_dim = spark.read.parquet(f"{wh}/time_dimension")
    loc_dim = spark.read.parquet(f"{wh}/location_dimension")
    prod_dim = spark.read.parquet(f"{wh}/product_dimension")

    # time dimension: pure date functions -> bit-identical to batch
    assert sorted(map(tuple, time_dim.collect())) == sorted(
        map(tuple, full.time_dimension.collect())
    )

    # product SCD2: same version set after the merge (every version of
    # the reference data happens to be seen by Jan 15, so the mid count
    # can already equal the final one — the merge must not exceed it)
    assert mid_products <= prod_dim.count() == full.product_dimension.count()
    key = ["product_name", "price_each"]
    assert (
        prod_dim.select(*key)
        .exceptAll(full.product_dimension.select(*key))
        .count()
        == 0
    )

    # location: same natural-key set, ids unique (append-stable, not
    # necessarily equal to the batch build's numbering)
    lkey = ["street_name", "city_name", "state_name", "postal"]
    assert loc_dim.count() == full.location_dimension.count()
    assert (
        loc_dim.select(*lkey)
        .exceptAll(full.location_dimension.select(*lkey))
        .count()
        == 0
    )
    assert (
        loc_dim.select("location_id").distinct().count() == loc_dim.count()
    )

    # streaming cleanse keeps per-batch rows (no cross-batch DISTINCT):
    # 9,681 pre-distinct valid rows
    assert spark.read.parquet(f"{wh}/cleansed").count() == 9681
    assert spark.read.parquet(f"{wh}/invalid").count() == 42

    # lineage guard (r14): the restarts above reused ONE checkpoint;
    # a fresh checkpoint over the same warehouse_dir would restart
    # batch ids at 0 and mix cleansed/invalid batch_id partitions
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_warehouse(
            spark,
            str(drop),
            wh,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_streaming_warehouse_fact_matches_batch(spark, tmp_path):
    """Full streaming warehouse: after two micro-batches (restarted
    query, one checkpoint), the accumulated fact equals the batch
    pipeline's on natural keys + measures."""
    import shutil as _sh

    from pyspark.sql import functions as F

    f1, f2 = _split_csv(tmp_path)
    drop = tmp_path / "wdrop"
    drop.mkdir()
    wh = str(tmp_path / "wwh")

    full = run_etl(spark, REFERENCE_CSV, output_dir=str(tmp_path / "wfull"))

    _sh.copy(f1, drop / "b1.csv")
    q = start_streaming_warehouse(spark, str(drop), wh, available_now=True)
    q.awaitTermination()
    _sh.copy(f2, drop / "b2.csv")
    q = start_streaming_warehouse(spark, str(drop), wh, available_now=True)
    q.awaitTermination()

    fact = spark.read.parquet(f"{wh}/fact")
    cols = ["product", "order_date", "street_name", "postal",
            "quantity_ordered", "price_each"]
    got = sorted(map(tuple, fact.select(*cols).collect()))
    want = sorted(map(tuple, full.fact.select(*cols).collect()))
    # streaming cleanse keeps per-batch rows (no cross-batch DISTINCT)
    # and no null-id assignment, so the streaming fact carries the 10
    # duplicate lines the batch pipeline's full-row DISTINCT drops —
    # the comparison below is superset containment plus the revenue
    # floor, not exact equality
    assert len(got) >= len(want)
    # every batch-pipeline fact line exists in the streaming fact
    from collections import Counter

    cg, cw = Counter(got), Counter(want)
    missing = cw - cg
    assert not missing, list(missing)[:3]
    # revenue invariant holds modulo the duplicate lines
    rev = fact.agg(
        F.sum(F.col("quantity_ordered") * F.col("price_each"))
    ).first()[0]
    assert float(rev) >= 1814491.55 - 0.01

    # lineage guard (r14): same warehouse_dir + fresh checkpoint
    # refuses (fact/cleansed/invalid batch_id partitions would mix)
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_warehouse(
            spark,
            str(drop),
            wh,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


@pytest.mark.parametrize("restart", [False, True])
def test_inline_drops_match_batch(spark, tmp_path, restart):
    """The warehouse sink on two inline-CSV micro-batches, no reference
    CSV needed: with ``restart``, each drop is drained by its own
    availableNow query on one checkpoint; without, one long-running
    query folds both drops as they land. Against
    ``run_etl`` over all the rows: the time dimension bit for bit, the
    product and location natural keys, and the fact's natural keys +
    measures. Against ``run_etl`` + ``run_etl_increment`` over the same
    two files (the same fold, drop by drop): every dimension row for
    row, surrogate ids included, and the fact on every column but the
    drop key."""
    from tests.test_increment_synthetic import BASE, DROPS, HEADER

    bodies = [BASE, DROPS[0] + DROPS[1]]
    full_csv = tmp_path / "all.csv"
    full_csv.write_text(HEADER + "\n" + "".join(bodies))
    full = run_etl(spark, str(full_csv), output_dir=str(tmp_path / "full"))

    drop = tmp_path / "drop"
    drop.mkdir()
    wh = str(tmp_path / "wh")
    folded = str(tmp_path / "folded")
    staging = tmp_path / "staging"
    staging.mkdir()
    live = None if restart else start_streaming_warehouse(spark, str(drop), wh)
    try:
        for i, body in enumerate(bodies):
            # land each drop whole: the running query may list the
            # directory at any moment
            staged = staging / f"b{i}.csv"
            staged.write_text(HEADER + "\n" + body)
            csv = drop / staged.name
            os.replace(staged, csv)
            if live is None:
                start_streaming_warehouse(
                    spark, str(drop), wh, available_now=True
                ).awaitTermination()
            else:
                live.processAllAvailable()
            (run_etl_increment if i else run_etl)(spark, str(csv), folded)
    finally:
        if live is not None:
            live.stop()

    def rows(df, cols=None):
        return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))

    read = spark.read.parquet
    assert rows(read(f"{wh}/time_dimension")) == rows(full.time_dimension)
    key = ["product_name", "price_each"]
    assert rows(read(f"{wh}/product_dimension"), key) == rows(
        full.product_dimension, key
    )
    lkey = ["street_name", "city_name", "state_name", "postal"]
    assert rows(read(f"{wh}/location_dimension"), lkey) == rows(
        full.location_dimension, lkey
    )
    assert read(f"{wh}/cleansed").select("batch_id").distinct().count() == 2
    cols = ["product", "order_date", "street_name", "postal",
            "quantity_ordered", "price_each"]
    assert rows(read(f"{wh}/fact"), cols) == rows(full.fact, cols)

    for name in ("time_dimension", "location_dimension",
                 "product_dimension"):
        assert rows(read(f"{wh}/{name}")) == rows(
            read(f"{folded}/{name}")
        ), name
    fact = read(f"{folded}/fact").drop("batch_id")
    assert rows(read(f"{wh}/fact"), fact.columns) == rows(fact)
