"""One replay mark for every marked ``foreachBatch`` sink, and none for
the ETL sink.

``compaction.advance_mark`` writes ``<mark>.tmp`` and renames it over
the mark, so a reader sees the mark absent, old or complete, never
torn. Each of the three marked sinks (the IVF appender, the weighted
reservoir and the doc dedup) advances its mark only after its output
commits. A fault at that one commit point must leave the previous mark
readable and make the replay either equal a fault-free run (reservoir,
doc dedup) or re-append exactly the interrupted batch (IVF: the
at-least-once window between the output commit and the mark advance).
The streaming ETL sink keeps no mark: it overwrites each batch's own
``batch_id`` partition, so a replay after a crash between its two
writes equals a fault-free run.
"""

from __future__ import annotations

import os

import pytest

import sales_data_warehouse_spark.sources.compaction as compaction
from sales_data_warehouse_spark.operators import similarity
from sales_data_warehouse_spark.sources.compaction import (
    advance_mark,
    fs_write_text,
    read_mark,
)
from sales_data_warehouse_spark.sources.csv_ingest import landing_from_rows
from sales_data_warehouse_spark.streaming import (
    documents,
    embeddings,
    ingest,
    sampling,
)

SF_DIR = "/root/testdata/sf0.001"


class Crash(Exception):
    """The injected fault."""


def _crash(*_args, **_kwargs):
    raise Crash()


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_advance_mark_replaces_the_mark(spark, tmp_path):
    mark = str(tmp_path / "_last_batch")
    assert read_mark(spark, mark) is None
    for value in (22, 3, 12345):
        advance_mark(spark, mark, value)
        assert read_mark(spark, mark) == value
    assert sorted(os.listdir(tmp_path)) == ["._last_batch.crc", "_last_batch"]
    fs_write_text(spark, mark, "garbage")
    assert read_mark(spark, mark) is None


def test_failed_rename_keeps_the_previous_mark(spark, tmp_path, monkeypatch):
    mark = str(tmp_path / "_last_batch")
    advance_mark(spark, mark, 0)
    monkeypatch.setattr(compaction, "fs_replace", _crash)
    with pytest.raises(Crash):
        advance_mark(spark, mark, 1)
    assert os.path.exists(mark + ".tmp")
    assert read_mark(spark, mark) == 0
    monkeypatch.undo()
    advance_mark(spark, mark, 1)
    assert read_mark(spark, mark) == 1
    assert not os.path.exists(mark + ".tmp")


# --- the sinks -------------------------------------------------------------


class EtlSink:
    def __init__(self, spark, root):
        self.spark, self.out = spark, f"{root}/etl"
        addr = "1 Main St, Boston, MA 02215"
        self.batches = [
            landing_from_rows(spark, [
                ("1", "Widget", "2", "9.99", "01/22/19 21:25", addr),
                (None, None, None, None, None, None),
            ]),
            landing_from_rows(spark, [
                ("2", "Gadget", "1", "5.00", "01/23/19 09:00", addr),
                ("3", "Thing", "oops", "1.00", "01/23/19 10:00", addr),
            ]),
        ]

    def fold(self, batch_id, batch):
        ingest.etl_batch_sink(self.spark, batch, batch_id, self.out)

    def output(self):
        """Both tables' rows, without the ``batch_id`` partition key."""
        read = self.spark.read.parquet
        cleansed = read(f"{self.out}/cleansed").drop("batch_id")
        return (
            _rows(cleansed.select(*sorted(cleansed.columns))),
            _rows(read(f"{self.out}/invalid").drop("batch_id")),
        )


class IvfSink:
    module = embeddings
    replay_appends = True

    def __init__(self, spark, root):
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(32)
        self.spark, self.path = spark, f"{root}/ivf"
        similarity.save_ivf_index(
            similarity.build_ivf_index(emb, num_centroids=4, cache=False),
            self.path,
        )
        self.batches = [
            emb.limit(4).select(
                (F.col("vec_id") + offset).alias("vec_id"), "embedding",
                "label",
            )
            for offset in (500_000, 600_000)
        ]

    def fold(self, batch_id, batch):
        embeddings.ivf_append_batch(
            self.spark, self.path, batch, batch_id, compute_stats=False
        )

    def marks(self):
        return [f"{self.path}/_ingest_batches/_last_batch"]

    def output(self):
        assigned = self.spark.read.parquet(f"{self.path}/assigned")
        return _rows(assigned.select("neighbor_id", "cell"))


class ReservoirSink:
    module = sampling
    replay_appends = False

    def __init__(self, spark, root):
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "lang", "n_chars"
        )
        self.spark, self.path = spark, f"{root}/res"
        self.batches = [
            docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1")
        ]

    def fold(self, batch_id, batch):
        sampling.reservoir_fold_batch(
            self.spark, self.path, batch, batch_id, "n_chars", 25
        )

    def marks(self):
        return [f"{self.path}/_ingest_batches/_last_batch"]

    def output(self):
        return _rows(self.spark.read.parquet(f"{self.path}/rows"))


class DocDedupSink:
    module = documents
    replay_appends = False

    def __init__(self, spark, root):
        def docs(rows):
            return spark.createDataFrame(
                [(i, t, "en", "unit", len(t)) for i, t in rows],
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            )

        self.spark, self.out = spark, f"{root}/dedup"
        self.batches = [
            docs([(1, "alpha text"), (2, "beta text"), (3, "alpha text")]),
            docs([(4, "beta text"), (5, "gamma text"), (6, "gamma text")]),
        ]

    def fold(self, batch_id, batch):
        documents.dedup_documents_batch(
            self.spark, batch, batch_id, self.out
        )

    def marks(self):
        return [f"{self.out}/fingerprints/_last_batch"]

    def output(self):
        return (
            _rows(self.spark.read.parquet(f"{self.out}/admitted")),
            _rows(documents.read_dedup_state(self.spark, self.out)),
        )


SINKS = [IvfSink, ReservoirSink, DocDedupSink]


@pytest.mark.parametrize("fault", ["rename", "advance_mark"])
@pytest.mark.parametrize("sink_cls", SINKS, ids=lambda c: c.__name__)
def test_fault_at_the_mark_replays_only_the_interrupted_batch(
    spark, tmp_path, monkeypatch, sink_cls, fault
):
    """Batch 1's output commits, then the mark fails to advance: either
    its rename raises after the ``.tmp`` write, or ``advance_mark``
    raises where the sink looks it up. The mark must still read 0, and
    the replay of batch 1 must match a fault-free run: identical for
    the reservoir and the doc dedup, and for the IVF sink the same as
    batch 1 landing twice (the interrupted batch re-appends, no earlier
    batch does)."""
    sink = sink_cls(spark, str(tmp_path / "faulted"))
    b0, b1 = sink.batches
    sink.fold(0, b0)
    if fault == "rename":
        monkeypatch.setattr(compaction, "fs_replace", _crash)
    else:
        monkeypatch.setattr(sink.module, "advance_mark", _crash)
    with pytest.raises(Crash):
        sink.fold(1, b1)
    monkeypatch.undo()
    for mark in sink.marks():
        assert read_mark(spark, mark) == 0
        assert os.path.exists(mark + ".tmp") == (fault == "rename")
    sink.fold(1, b1)  # the replay
    for mark in sink.marks():
        assert read_mark(spark, mark) == 1
        assert not os.path.exists(mark + ".tmp")

    twin = sink_cls(spark, str(tmp_path / "fault_free"))
    twin.fold(0, b0)
    twin.fold(1, b1)
    if sink.replay_appends:
        twin.fold(2, b1)
    assert sink.output() == twin.output()


def test_etl_sink_replay_after_a_crash_between_writes_equals_fault_free(
    spark, tmp_path, monkeypatch
):
    """Batch 1's cleansed write commits, then the sink dies before it
    can finish the batch (the writer raises once the cleansed parquet
    is committed). The replay of batch 1 must leave exactly the rows of
    a run without the fault."""
    from pyspark.sql.readwriter import DataFrameWriter

    real_parquet = DataFrameWriter.parquet

    def crash_after_cleansed_commit(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if "/cleansed" in path:
            raise Crash()

    sink = EtlSink(spark, str(tmp_path / "faulted"))
    b0, b1 = sink.batches
    sink.fold(0, b0)
    monkeypatch.setattr(
        DataFrameWriter, "parquet", crash_after_cleansed_commit
    )
    with pytest.raises(Crash):
        sink.fold(1, b1)
    monkeypatch.undo()
    sink.fold(1, b1)  # the replay

    twin = EtlSink(spark, str(tmp_path / "fault_free"))
    twin.fold(0, b0)
    twin.fold(1, b1)
    assert sink.output() == twin.output()


def test_etl_sink_batches_equal_one_cleanse(spark, tmp_path):
    """Three micro-batches through ``etl_batch_sink`` land exactly the
    rows one ``cleanse_stream`` over their union produces."""
    sink = EtlSink(spark, str(tmp_path))
    addr = "9 Elm St, Austin, TX 73301"
    b2 = landing_from_rows(spark, [
        ("4", "Widget", "3", "9.99", "01/24/19 08:00", addr),
        ("5", None, "1", "1.00", "01/24/19 09:00", addr),
    ])
    batches = [*sink.batches, b2]
    for batch_id, batch in enumerate(batches):
        sink.fold(batch_id, batch)
    union = batches[0].unionByName(batches[1]).unionByName(batches[2])
    cleansed, invalid = ingest.cleanse_stream(union)
    assert sink.output() == (
        _rows(cleansed.select(*sorted(cleansed.columns))), _rows(invalid)
    )


def test_ivf_sink_batches_equal_one_append(spark, tmp_path):
    """Micro-batches through ``ivf_append_batch`` leave the same cell
    assignments as one ``ivf_append`` of their union into a copy of the
    same index."""
    sink = IvfSink(spark, str(tmp_path / "streamed"))
    for batch_id, batch in enumerate(sink.batches):
        sink.fold(batch_id, batch)
    twin = IvfSink(spark, str(tmp_path / "batch"))
    similarity.ivf_append(
        spark, twin.path, twin.batches[0].unionByName(twin.batches[1])
    )
    assert sink.output() == twin.output()
