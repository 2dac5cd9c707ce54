"""Structured Streaming tests: each streaming query is checked against a
*batch* run of the same transformation over the same files (Spark's
unified semantics make that the ground truth)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pyspark.sql import functions as F2

from sales_data_warehouse_spark.streaming import (
    EVENTS_SCHEMA,
    cleanse_stream,
    dedupe_within,
    enrich_stream,
    read_events_stream,
    read_sales_csv_stream,
    running_user_totals,
    session_windows,
    sliding_event_rate,
    start_streaming_etl,
    tumbling_event_agg,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # The testdata writer used nanosecond timestamps; a streaming producer
    # feeding this source writes standard micro-precision parquet, so the
    # fixture downcasts ts (Spark TimestampType is microseconds).
    d = tmp_path_factory.mktemp("events_stream")
    t = pq.read_table(f"{SF_DIR}/events.parquet")
    fields = [
        pa.field("ts", pa.timestamp("us")) if f.name == "ts" else f
        for f in t.schema
    ]
    pq.write_table(t.cast(pa.schema(fields), safe=False), d / "part-0.parquet")
    return str(d)


def _run_to_memory(stream_df, name, output_mode, spark):
    # availableNow processes every pending file then terminates on its own.
    # (processAllAvailable never settles under ProcessingTimeTimeout state:
    # timeout checks keep scheduling micro-batches.)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300), "streaming query did not finish"
    finally:
        q.stop()
    return spark.table(name)


def test_tumbling_event_agg_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        tumbling_event_agg(stream), "t_tumbling", "complete", spark
    ).orderBy("window_start", "event_type")

    batch = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = tumbling_event_agg(batch).orderBy("window_start", "event_type")
    assert got.collect() == want.collect()


def test_session_windows_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        session_windows(stream), "t_sessions", "complete", spark
    )
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = session_windows(batch)
    assert got.count() == want.count()
    assert sorted(got.collect()) == sorted(want.collect())


def test_sliding_event_rate_matches_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        sliding_event_rate(stream), "t_sliding", "complete", spark
    )
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = sliding_event_rate(batch)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_dedupe_within_watermark(spark, tmp_path):
    drop = tmp_path / "dedup_drop"
    drop.mkdir()
    header = (
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"
    )
    dup = '7,Widget,2,9.99,01/22/19 21:25,"1 Main St, Boston, MA 02215"\n'
    other = '8,Gadget,1,5.00,01/22/19 22:00,"2 Elm St, Austin, TX 73301"\n'
    # the duplicate appears twice in one batch AND again in a second file
    (drop / "a.csv").write_text(header + dup + dup + other)
    (drop / "b.csv").write_text(header + dup)
    landing = read_sales_csv_stream(spark, str(drop))
    cleansed, _ = cleanse_stream(landing)
    deduped = dedupe_within(cleansed, watermark="1 day")
    got = _run_to_memory(deduped, "t_dedup_within", "append", spark)
    products = sorted(r["product"] for r in got.collect())
    assert products == ["Gadget", "Widget"]


def test_running_user_totals_state(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        running_user_totals(stream, idle_timeout_ms=None),
        "t_totals",
        "update",
        spark,
    )
    # update mode emits one row per user per micro-batch; the LAST row per
    # user is the final running total — compare with a batch groupBy.
    final = (
        got.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
    )
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.coalesce("value", F.lit(0.0))), 2).alias(
            "total_value"
        ),
    )
    diff = final.join(want, "user_id").filter(
        (final["n_events"] != want["n_events"])
        | (F.abs(final["total_value"] - want["total_value"]) > 0.01)
    )
    assert final.count() == want.count()
    assert diff.count() == 0


def test_cleanse_stream_reject_routing(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "batch1.csv").write_text(
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"
        '1001,Widget,2,9.99,01/22/19 21:25,"1 Main St, Boston, MA 02215"\n'
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"  # repeated header -> cast_failure
        ",,,,,\n"  # all-blank -> null_required_field
        '1002,Gadget,notanint,5.00,01/23/19 10:00,"2 Elm St, Austin, TX 73301"\n'
    )
    landing = read_sales_csv_stream(spark, str(drop))
    cleansed, invalid = cleanse_stream(landing)
    ok = _run_to_memory(cleansed, "t_cleansed", "append", spark)
    bad = _run_to_memory(invalid, "t_invalid", "append", spark)

    rows = {r["order_id"]: r for r in ok.collect()}
    assert set(rows) == {1001}
    assert rows[1001]["city"] == "Boston"
    assert rows[1001]["postal"] == "02215"
    assert str(rows[1001]["order_date"]) == "2019-01-22"

    reasons = sorted(r["reject_reason"] for r in bad.collect())
    assert reasons == [
        "cast_failure",  # repeated header row
        "cast_failure",  # notanint quantity
        "null_required_field",  # blank row
    ]


def test_stream_and_batch_readers_land_the_same_rows(spark, tmp_path):
    """One CSV with an escaped quote (``""``) inside a quoted field, an
    embedded comma and a blank row: the drop-directory stream and
    ``ingest_csv`` read it into the same landing rows."""
    from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "quotes.csv").write_text(
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"
        '1,"27in ""4K"" Monitor",1,389.99,01/22/19 21:25,'
        '"1 Main St, Boston, MA 02215"\n'
        ",,,,,\n"
        '2,Widget,2,9.99,01/23/19 09:00,"2 Elm St, Austin, TX 73301"\n'
    )
    streamed = _run_to_memory(
        read_sales_csv_stream(spark, str(drop)), "t_landing", "append", spark
    )
    batch = ingest_csv(spark, str(drop / "quotes.csv"))
    assert streamed.columns == batch.columns
    got = sorted(map(tuple, streamed.collect()), key=repr)
    assert got == sorted(map(tuple, batch.collect()), key=repr)
    assert '27in "4K" Monitor' in {r["product"] for r in batch.collect()}


def test_enrich_stream_matches_batch(spark, events_dir):
    batch = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    # static per-user profile derived from the same data
    dim = batch.groupBy("user_id").agg(
        F2.count(F2.lit(1)).alias("user_events")
    )
    stream = read_events_stream(spark, events_dir)
    got = _run_to_memory(
        enrich_stream(stream, dim).select("event_id", "user_id", "user_events"),
        "t_enrich",
        "append",
        spark,
    )
    want = enrich_stream(batch, dim).select(
        "event_id", "user_id", "user_events"
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_etl_to_parquet(spark, tmp_path):
    drop = tmp_path / "drop"
    out = tmp_path / "warehouse"
    drop.mkdir()
    header = (
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"
    )
    (drop / "day1.csv").write_text(
        header
        + '1,Widget,2,9.99,01/22/19 21:25,"1 Main St, Boston, MA 02215"\n'
        + ",,,,,\n"
    )
    (drop / "day2.csv").write_text(
        header
        + '2,Gadget,1,5.00,01/23/19 09:00,"2 Elm St, Austin, TX 73301"\n'
    )
    q = start_streaming_etl(
        spark, str(drop), str(out), available_now=True
    )
    assert q.awaitTermination(300)
    q.stop()

    cleansed = spark.read.parquet(str(out / "cleansed"))
    invalid = spark.read.parquet(str(out / "invalid"))
    assert {r["order_id"] for r in cleansed.collect()} == {1, 2}
    assert invalid.count() == 1
    # partitioned by order_date inside each micro-batch's batch_id
    # partition -> day directories exist for pruning
    parts = {p.name for p in (out / "cleansed").glob("batch_id=*/*")
             if p.is_dir()}
    assert "order_date=2019-01-22" in parts
    assert "order_date=2019-01-23" in parts


def test_etl_batch_sink_replay_no_duplicates(spark, tmp_path):
    """The ingest sink overwrites each batch's own ``batch_id``
    partition, so a checkpoint replay is idempotent — including the
    crash-between-writes window (one table committed, the other not):
    the restart rewrites the batch and never duplicates the committed
    table."""
    import sales_data_warehouse_spark.streaming.ingest as ing
    from sales_data_warehouse_spark.sources.csv_ingest import (
        landing_from_rows,
    )

    out = str(tmp_path / "w")
    batch0 = landing_from_rows(
        spark,
        [
            ("1", "Widget", "2", "9.99", "01/22/19 21:25",
             "1 Main St, Boston, MA 02215"),
            (None, None, None, None, None, None),
        ],
    )
    batch1 = landing_from_rows(
        spark,
        [
            ("2", "Gadget", "1", "5.00", "01/23/19 09:00",
             "2 Elm St, Austin, TX 73301"),
            ("3", "Thing", "oops", "1.00", "01/23/19 10:00",
             "3 Oak St, Austin, TX 73301"),
        ],
    )

    ing.etl_batch_sink(spark, batch0, 0, out)
    counts = lambda: (  # noqa: E731
        spark.read.parquet(f"{out}/cleansed").count(),
        spark.read.parquet(f"{out}/invalid").count(),
    )
    assert counts() == (1, 1)

    # full-batch replay (restart after a crash between the writes and
    # the checkpoint offset commit): both partitions rewritten
    ing.etl_batch_sink(spark, batch0, 0, out)
    assert counts() == (1, 1)

    # crash BETWEEN the two writes: the invalid write of batch 1
    # fails after the cleansed write committed (a runtime error
    # injected into the invalid plan only)
    real = ing.cleanse_stream

    def failing(landing):
        c, i = real(landing)
        return c, i.where(F.assert_true(F.lit(False)).isNull())

    ing.cleanse_stream = failing
    try:
        with pytest.raises(Exception):
            ing.etl_batch_sink(spark, batch1, 1, out)
    finally:
        ing.cleanse_stream = real
    assert counts() == (2, 1)  # cleansed committed, invalid did not

    # the replay after restart: the committed table is rewritten, the
    # missing one lands
    ing.etl_batch_sink(spark, batch1, 1, out)
    assert counts() == (2, 2)
    cleansed = spark.read.parquet(f"{out}/cleansed")
    assert sorted(
        r["order_id"] for r in cleansed.select("order_id").collect()
    ) == [1, 2]


def test_interval_join_streams_matches_batch(spark, events_dir):
    """Stream-stream interval join == the identical join on the static
    files (unified semantics), using click->view attribution shape:
    left = 'click' events, right = 'view' events within 30 minutes."""
    from sales_data_warehouse_spark.streaming import interval_join_streams

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "view"),
        )

    sl, sr = split(read_events_stream(spark, events_dir))
    got = _run_to_memory(
        interval_join_streams(sl, sr, max_lag="30 minutes"),
        "t_ssjoin",
        "append",
        spark,
    )
    bl, br = split(spark.read.schema(EVENTS_SCHEMA).parquet(events_dir))
    want = interval_join_streams(bl, br, max_lag="30 minutes")
    assert got.count() > 0
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_streaming_rollup_refresh_matches_batch(spark, events_dir, tmp_path):
    """Appended per-batch hourly partials, merged at read time, must
    equal the one-shot batch rollup; the daily cascade over the merged
    hourly level must equal the daily rollup over raw events."""
    from sales_data_warehouse_spark.operators import rollup as R

    out = str(tmp_path / "agg")
    stream = read_events_stream(spark, events_dir)
    q = R.start_rollup_refresh(stream, out, available_now=True)
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    merged = R.merge_partials(spark.read.parquet(f"{out}/partials"))
    batch_events = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want_hourly = R.rollup_level(batch_events, "ts", 3600, "value")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, want_hourly.collect())
    )
    daily_from_hourly = R.merge_rollup(merged, 86400)
    want_daily = R.rollup_level(batch_events, "ts", 86400, "value")
    got = {r.bucket: (r.n_events, r.min_value, r.max_value)
           for r in daily_from_hourly.collect()}
    want = {r.bucket: (r.n_events, r.min_value, r.max_value)
            for r in want_daily.collect()}
    assert got == want

    # lineage guard (r14): a fresh checkpoint over the same partials
    # dir would re-append every event's partial and double-count on
    # the next merge_partials read
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        R.start_rollup_refresh(
            read_events_stream(spark, events_dir),
            out,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_streaming_etl_checkpoint_resume_exactly_once(spark, tmp_path):
    """Restarting the drained query with the SAME checkpoint must
    process only files that arrived since — already-committed batches
    are not re-ingested, so the sink holds each row exactly once."""
    drop = tmp_path / "drop"
    out = tmp_path / "warehouse"
    drop.mkdir()
    header = (
        "Order ID,Product,Quantity Ordered,Price Each,Order Date,"
        "Purchase Address\n"
    )
    (drop / "a.csv").write_text(
        header
        + '1,Widget,2,9.99,01/22/19 21:25,"1 Main St, Boston, MA 02215"\n'
    )
    q = start_streaming_etl(spark, str(drop), str(out), available_now=True)
    assert q.awaitTermination(300)
    q.stop()
    assert spark.read.parquet(str(out / "cleansed")).count() == 1

    # second file lands; resume from the same checkpoint
    (drop / "b.csv").write_text(
        header
        + '2,Gadget,1,5.00,01/23/19 09:00,"2 Elm St, Austin, TX 73301"\n'
    )
    q2 = start_streaming_etl(spark, str(drop), str(out), available_now=True)
    assert q2.awaitTermination(300)
    q2.stop()

    cleansed = spark.read.parquet(str(out / "cleansed"))
    rows = sorted(r["order_id"] for r in cleansed.collect())
    assert rows == [1, 2], rows  # no duplicate of order 1

    # idle resume (nothing new) must also add nothing
    q3 = start_streaming_etl(spark, str(drop), str(out), available_now=True)
    assert q3.awaitTermination(300)
    q3.stop()
    assert spark.read.parquet(str(out / "cleansed")).count() == 2

    # lineage guard (r14): a fresh checkpoint over the same output_dir
    # forgets the source offsets and would re-append both files
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_etl(
            spark,
            str(drop),
            str(out),
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_streaming_quality_scores_match_batch(spark, tmp_path):
    """r13: the fitted-classifier streaming scorer is a PURE streaming
    plan (stateless integer projection, parquet append sink) — drained
    over a two-file drop dir it must reproduce the batch
    score_with_classifier rows exactly, including the keep split."""
    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.operators import text
    from sales_data_warehouse_spark.streaming import (
        start_streaming_quality_scores,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(["word"] * (5 + (i * 7) % 17))
                + " the" * ((i * 5) % 7)
                + "." * ((i * 3) % 5),
                "en",
                f"src{i % 3}",
                0,
            )
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    # fit on a deterministic labeling, persist, and stream against it
    clf = text.fit_quality_classifier(
        docs, docs.select("doc_id", (F.col("doc_id") % 3 == 0).alias("label"))
    )
    model_path = str(tmp_path / "clf")
    text.save_quality_classifier(spark, clf, model_path)

    drop = tmp_path / "drop"
    drop.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = docs.toPandas()
    for name, part in (
        ("f1.parquet", pdf[pdf.doc_id < 20]),
        ("f2.parquet", pdf[pdf.doc_id >= 20]),
    ):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(drop / name),
        )
    # pick a threshold that genuinely splits THIS fitted model's
    # logits (the median), so the keep column is exercised both ways
    logits = sorted(
        r["logit_milli"]
        for r in text.score_with_classifier(docs, clf).collect()
    )
    thr = logits[len(logits) // 2]
    out = str(tmp_path / "out")
    q = start_streaming_quality_scores(
        spark,
        str(drop),
        model_path,
        out,
        keep_threshold_milli=thr,
        available_now=True,
    )
    q.awaitTermination()

    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/scored").collect())
    )
    want = sorted(
        map(
            tuple,
            text.score_with_classifier(
                docs, clf, keep_threshold_milli=thr
            ).collect(),
        )
    )
    assert got == want
    kept = {r for r in got if r[-1]}
    assert 0 < len(kept) < len(got)  # the threshold splits both ways
    # lineage guard (r14): the file sink's _spark_metadata log lives
    # inside scored/ and outlives the checkpoint — a fresh-checkpoint
    # restart would silently SKIP its early batches as committed
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_quality_scores(
            spark,
            str(drop),
            model_path,
            out,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_streaming_ngram_quality_scores_match_batch(spark, tmp_path):
    """r14: the fitted n-gram classifier's streaming scorer
    (foreachBatch — the per-doc sum is a grouped aggregate, the scalar
    scorer's pure-plan shape doesn't apply) drained over a two-file
    drop dir must reproduce the batch score_with_ngram_classifier rows
    exactly, including the keep split; restarting the same output_dir
    under a different checkpoint lineage must refuse."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.operators import text
    from sales_data_warehouse_spark.streaming import (
        start_streaming_ngram_quality_scores,
    )

    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(["word"] * (5 + (i * 7) % 17))
                + " the" * ((i * 5) % 7)
                + " dot" * ((i * 3) % 5),
                "en",
                f"src{i % 3}",
                0,
            )
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    clf = text.fit_quality_classifier_ngrams(
        docs,
        docs.select("doc_id", (F.col("doc_id") % 3 == 0).alias("label")),
        num_buckets=512,
    )
    model_path = str(tmp_path / "ngram_clf")
    text.save_ngram_classifier(spark, clf, model_path)

    drop = tmp_path / "drop"
    drop.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = docs.toPandas()
    for name, part in (
        ("f1.parquet", pdf[pdf.doc_id < 20]),
        ("f2.parquet", pdf[pdf.doc_id >= 20]),
    ):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(drop / name),
        )
    # threshold at the fitted model's median logit so keep splits both
    # ways
    logits = sorted(
        r["logit_milli"]
        for r in text.score_with_ngram_classifier(docs, clf).collect()
    )
    thr = logits[len(logits) // 2]

    out = str(tmp_path / "out")
    q = start_streaming_ngram_quality_scores(
        spark,
        str(drop),
        model_path,
        out,
        keep_threshold_milli=thr,
        available_now=True,
    )
    q.awaitTermination()

    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{out}/scores")
            .drop("batch_id")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            text.score_with_ngram_classifier(
                docs, clf, keep_threshold_milli=thr
            ).collect(),
        )
    )
    assert got == want
    kept = {r for r in got if r[-1]}
    assert 0 < len(kept) < len(got)
    # lineage guard: same output_dir + different checkpoint refuses
    with _pytest.raises(ValueError, match="lineage"):
        start_streaming_ngram_quality_scores(
            spark,
            str(drop),
            model_path,
            out,
            checkpoint_dir=str(tmp_path / "other_ckpt"),
        )
