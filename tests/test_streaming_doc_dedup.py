"""Streaming document dedup: the drained stream must admit exactly the
first-seen copy of every distinct text (matching the batch
``exact_duplicates`` answer), keep fingerprint state consistent, and a
replayed micro-batch must not lose or duplicate admitted output.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sales_data_warehouse_spark.streaming.documents import (
    dedup_documents_batch,
    start_streaming_doc_dedup,
)


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "unit", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


@pytest.fixture()
def batches(spark):
    b1 = _docs(spark, [(1, "alpha text"), (2, "beta text"),
                       (3, "alpha text")])
    b2 = _docs(spark, [(4, "beta text"), (5, "gamma text"),
                       (6, "gamma text")])
    return b1, b2


def test_batches_admit_first_seen_only(spark, batches, tmp_path):
    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    admitted = spark.read.parquet(f"{out}/admitted")
    got = {
        r["doc_id"]: r["text"] for r in admitted.collect()
    }
    # first-seen copies only: 3 (dup of 1), 4 (dup of 2), 6 (dup of 5)
    assert got == {1: "alpha text", 2: "beta text", 5: "gamma text"}
    state = spark.read.parquet(f"{out}/fingerprints/fp")
    assert state.count() == 3
    assert set(
        r["canonical_id"] for r in state.collect()
    ) == {1, 2, 5}


def test_replay_after_full_commit_is_a_noop(spark, batches, tmp_path):
    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    before = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    # crash between state rename and checkpoint commit: batch 1 replays
    dedup_documents_batch(spark, b2, 1, out)
    after = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert after == before  # no loss, no duplicates
    assert spark.read.parquet(f"{out}/fingerprints/fp").count() == 3


def test_replay_before_state_commit_recomputes_identically(
    spark, batches, tmp_path
):
    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    # simulate a crash AFTER the admitted write but BEFORE the state
    # rename: write batch 2's admitted dir by hand, leave state at b1
    fresh = _docs(spark, [(5, "gamma text")])
    fresh.write.mode("overwrite").parquet(f"{out}/admitted/batch_id=1")
    dedup_documents_batch(spark, b2, 1, out)  # the replay
    admitted = spark.read.parquet(f"{out}/admitted")
    assert sorted(r["doc_id"] for r in admitted.collect()) == [1, 2, 5]
    assert spark.read.parquet(f"{out}/fingerprints/fp").count() == 3


def test_replay_skips_via_high_water_mark(spark, batches, tmp_path):
    """r14: replay detection is an O(1) mark comparison, not a
    state-sized anti-join — the ``_last_batch`` mark advances only
    after the batch's state partition commits (late r14: append-only
    layout; a torn mark falls back to the partition ``_SUCCESS`` scan)
    and a replayed batch is skipped without touching the batch data at
    all. Proven by replaying a POISONED batch frame: the pre-r14
    containment check would have joined it (and found fresh
    fingerprints, wrongly recomputing); the mark path must return
    before any read of the batch."""
    from sales_data_warehouse_spark.sources.compaction import (
        fs_read_text,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    assert fs_read_text(spark, f"{out}/fingerprints/_last_batch") == "1"
    before = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    poisoned = _docs(spark, [(99, "never seen text")])
    dedup_documents_batch(spark, poisoned, 1, out)  # replay of batch 1
    after = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert after == before  # skipped outright — nothing recomputed
    assert spark.read.parquet(f"{out}/fingerprints/fp").count() == 3


def test_streamed_drain_matches_batch_dedup(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "dedup")
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    _docs(spark, [(1, "t one"), (2, "t two"), (3, "t one")]).coalesce(
        1
    ).write.parquet(str(drop / "f1.parquet"))
    _docs(spark, [(4, "t two"), (5, "t three")]).coalesce(1).write.parquet(
        str(drop / "f2.parquet")
    )
    q = start_streaming_doc_dedup(
        spark, str(drop) + "/*", out, available_now=True
    )
    q.awaitTermination(120)
    admitted = spark.read.parquet(f"{out}/admitted")
    texts = sorted(r["text"] for r in admitted.collect())
    assert texts == ["t one", "t three", "t two"]
    # fingerprints cover every distinct text exactly once
    fps = spark.read.parquet(f"{out}/fingerprints/fp")
    assert fps.count() == 3
    assert fps.select("fp").distinct().count() == 3
    # lineage guard (r14): a restart under a different checkpoint
    # would restart batch ids at 0 BELOW the _last_batch high-water
    # mark — every early batch of the new lineage silently skipped as
    # a "replay". Must refuse before starting.
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_doc_dedup(
            spark,
            str(drop) + "/*",
            out,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_near_dedup_stream_matches_batch_lsh(spark, tmp_path):
    from sales_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from sales_data_warehouse_spark.streaming.documents import (
        near_dedup_documents_batch,
        start_streaming_near_dedup,
    )

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow before sundown",
    ]
    rows = []
    for i in range(18):
        t = base[i % 3]
        if i >= 9:
            t = t.replace("the", "a").replace("my", "our")
        rows.append((i, t + f" tail{i % 2}"))
    all_docs = _docs(spark, [(i, t) for i, t in rows])

    drop = tmp_path / "drop"
    drop.mkdir()
    out = str(tmp_path / "near")
    for k in range(3):
        _docs(
            spark, [(i, t) for i, t in rows if i % 3 == k]
        ).coalesce(1).write.parquet(str(drop / f"f{k}.parquet"))
    q = start_streaming_near_dedup(
        spark, str(drop) + "/*", out, available_now=True
    )
    q.awaitTermination(180)

    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").drop(
            "batch_id"
        ).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(all_docs).collect()
    }
    assert got == want and len(want) > 0
    state = spark.read.parquet(f"{out}/band_state")
    assert state.count() == 18 * 8

    # replay the last batch (crash after state commit): pairs dir for
    # that batch is rewritten identically, state rows do not double
    last = _docs(spark, [(i, t) for i, t in rows if i % 3 == 2])
    near_dedup_documents_batch(spark, last, 2, out)
    got2 = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").drop(
            "batch_id"
        ).collect()
    }
    assert got2 == want
    assert spark.read.parquet(f"{out}/band_state").count() == 18 * 8

    # lineage guard (r14): same pairs/ dir under a fresh checkpoint
    # lineage must refuse (batch_id partitions would mix and the
    # unioned read-back double-counts re-probed pairs)
    import pytest

    with pytest.raises(ValueError, match="lineage"):
        start_streaming_near_dedup(
            spark,
            str(drop) + "/*",
            out,
            checkpoint_dir=str(tmp_path / "fresh_ckpt"),
        )


def test_state_is_append_only_deltas(spark, batches, tmp_path):
    """late r14: each fold writes ONLY its batch's fresh fingerprints
    as its own batch_id partition — the O(batch) write contract; no
    fold rewrites the union."""
    from sales_data_warehouse_spark.streaming.documents import (
        read_dedup_state,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    state = spark.read.parquet(f"{out}/fingerprints/fp")
    per_batch = {
        r["batch_id"]: r["n"]
        for r in state.groupBy("batch_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    # batch 0 introduced alpha+beta, batch 1 only gamma (beta was seen)
    assert per_batch == {0: 2, 1: 1}
    assert sorted(
        r["canonical_id"] for r in read_dedup_state(spark, out).collect()
    ) == [1, 2, 5]


def test_replay_with_stale_mark_recomputes_identically(
    spark, batches, tmp_path
):
    """Crash window between the state-partition write and the mark
    write: the partition for batch 1 is committed but the mark still
    reads 0. The replay must read prior PRUNED to <= mark (its own
    committed partition invisible), recompute identically, and
    re-advance the mark."""
    from sales_data_warehouse_spark.sources.compaction import (
        fs_read_text,
        fs_write_text,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    before = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    fs_write_text(spark, f"{out}/fingerprints/_last_batch", "0")
    dedup_documents_batch(spark, b2, 1, out)  # the replay
    after = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert after == before
    assert spark.read.parquet(f"{out}/fingerprints/fp").count() == 3
    assert fs_read_text(spark, f"{out}/fingerprints/_last_batch") == "1"


def test_torn_mark_falls_back_to_success_scan(spark, batches, tmp_path):
    """A torn ``_last_batch`` write (the mark file is a plain
    overwrite) must not degrade replay detection: the authoritative
    max-committed-partition scan reads the same value, so a poisoned
    replay is still skipped outright."""
    from sales_data_warehouse_spark.sources.compaction import (
        fs_write_text,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    before = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    fs_write_text(spark, f"{out}/fingerprints/_last_batch", "garbage")
    poisoned = _docs(spark, [(99, "never seen text")])
    dedup_documents_batch(spark, poisoned, 1, out)  # replay of batch 1
    after = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert after == before  # skipped via the _SUCCESS fallback
    assert spark.read.parquet(f"{out}/fingerprints/fp").count() == 3


def test_compact_dedup_state_merges_and_stays_correct(
    spark, batches, tmp_path
):
    """compact_dedup_state folds every committed partition <= mark
    into one batch_id=<mark> partition: same rows, replay skip intact,
    the next fold appends beyond it."""
    from sales_data_warehouse_spark.streaming.documents import (
        compact_dedup_state,
        read_dedup_state,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    rows_before = sorted(
        map(tuple, read_dedup_state(spark, out).collect())
    )
    assert compact_dedup_state(spark, out) == 2
    state = spark.read.parquet(f"{out}/fingerprints/fp")
    assert {r["batch_id"] for r in state.select("batch_id").collect()} \
        == {1}
    assert sorted(map(tuple, read_dedup_state(spark, out).collect())) \
        == rows_before
    # replay of an already-folded batch still skips after compaction
    poisoned = _docs(spark, [(99, "never seen text")])
    dedup_documents_batch(spark, poisoned, 0, out)
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == [1, 2, 5]
    # next real fold appends its own partition beyond the compacted one
    b3 = _docs(spark, [(7, "delta text"), (8, "alpha text")])
    dedup_documents_batch(spark, b3, 2, out)
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == [1, 2, 5, 7]
    assert {r["batch_id"] for r in spark.read.parquet(
        f"{out}/fingerprints/fp"
    ).select("batch_id").collect()} == {1, 2}


def test_compaction_crash_recovers_before_next_fold(
    spark, batches, tmp_path
):
    """A compaction that crashed after staging the combined table but
    before (or mid-way through) dropping the source partitions is
    finished by the next fold's recovery pass — no row lost, no row
    doubled."""
    import shutil

    from sales_data_warehouse_spark.streaming.documents import (
        read_dedup_state,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    rows_before = sorted(
        map(tuple, read_dedup_state(spark, out).collect())
    )
    # stage the combined table by hand (what compact does first), then
    # "crash" having deleted only one source partition
    fp = f"{out}/fingerprints/fp"
    tmp = f"{out}/fingerprints/fp_compact_tmp_1"
    spark.read.parquet(fp).drop("batch_id").write.parquet(tmp)
    shutil.rmtree(f"{fp}/batch_id=0")
    b3 = _docs(spark, [(7, "delta text")])
    dedup_documents_batch(spark, b3, 2, out)  # recovery runs first
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == [1, 2, 5, 7]
    got = sorted(
        t for t in map(tuple, read_dedup_state(spark, out).collect())
        if t[1] != 7
    )
    assert got == rows_before


def test_compact_band_state_preserves_pairs_and_replay(spark, tmp_path):
    """compact_band_state merges every committed partition BELOW the
    newest into batch_id=-1 (the newest partition stays — the only one
    a checkpoint replay can rewrite): state rows identical, the next
    fold's pairs unaffected, and a replay of the newest batch after
    compaction still neither loses nor doubles state."""
    import shutil

    from sales_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from sales_data_warehouse_spark.streaming.documents import (
        compact_band_state,
        near_dedup_documents_batch,
    )

    t = "the quick brown fox jumps over the lazy dog tonight"
    groups = [
        _docs(spark, [(2 * k, t + f" v{k}"), (2 * k + 1, t + f" v{k} x")])
        for k in range(4)
    ]
    out = str(tmp_path / "near")
    for k in range(3):
        near_dedup_documents_batch(spark, groups[k], k, out)
    rows_before = sorted(map(tuple, spark.read.parquet(
        f"{out}/band_state"
    ).drop("batch_id").collect()))

    assert compact_band_state(spark, out) == 2  # batches 0,1 -> -1
    from sales_data_warehouse_spark.streaming.documents import (
        read_band_state,
    )

    assert sorted(map(tuple, read_band_state(spark, out).collect())) \
        == rows_before
    state = spark.read.parquet(f"{out}/band_state")
    assert {r["batch_id"] for r in state.select(
        "batch_id"
    ).distinct().collect()} == {-1, 2}
    assert sorted(map(tuple, state.drop("batch_id").collect())) \
        == rows_before

    # replay of the newest batch post-compaction: state unchanged
    near_dedup_documents_batch(spark, groups[2], 2, out)
    assert sorted(map(tuple, spark.read.parquet(
        f"{out}/band_state"
    ).drop("batch_id").collect())) == rows_before

    # next fold probes the compacted state; cumulative pairs equal the
    # full-corpus run
    near_dedup_documents_batch(spark, groups[3], 3, out)
    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").drop(
            "batch_id"
        ).collect()
    }
    all_docs = groups[0]
    for g in groups[1:]:
        all_docs = all_docs.unionByName(g)
    want = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(all_docs).collect()
    }
    assert got == want and len(want) > 0

    # crash mid-commit: stage the merge by hand, delete one source,
    # then let the next fold's recovery finish it
    rows_now = sorted(map(tuple, spark.read.parquet(
        f"{out}/band_state"
    ).drop("batch_id").collect()))
    spark.read.parquet(f"{out}/band_state").filter(
        F.col("batch_id") < 3
    ).drop("batch_id").write.parquet(f"{out}/band_compact_tmp_3")
    shutil.rmtree(f"{out}/band_state/batch_id=-1")
    b5 = _docs(spark, [(98, "unrelated filler words entirely"),
                       (99, "unrelated filler words entirely y")])
    near_dedup_documents_batch(spark, b5, 4, out)  # recovery first
    got_rows = sorted(
        r for r in map(tuple, spark.read.parquet(
            f"{out}/band_state"
        ).drop("batch_id").collect()) if r[0] < 98
    )
    assert got_rows == rows_now


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.integers(min_value=0, max_value=5), min_size=1, max_size=12
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=11), max_size=3),
    replay=st.integers(min_value=0, max_value=3),
    data=st.data(),
)
def test_fold_sequence_property(spark, tmp_path_factory, texts, cuts,
                                replay, data):
    """Property over the append-only state machine: for ANY partition
    of a doc list into ordered batches, folding them sequentially
    admits exactly the global first-seen copy of each distinct text —
    and replaying any random earlier batch (with a poisoned frame, so
    a wrong recompute would show) changes nothing. Mirrors the truth
    in plain Python, not via the operator under test."""
    docs = [(i, f"text {t}") for i, t in enumerate(texts)]
    bounds = sorted(b for b in cuts if b < len(docs))
    batches, lo = [], 0
    for b in bounds + [len(docs)]:
        if b > lo:
            batches.append(docs[lo:b])
            lo = b
    out = str(tmp_path_factory.mktemp("fold_prop") / "dedup")
    for bid, rows in enumerate(batches):
        dedup_documents_batch(spark, _docs(spark, rows), bid, out)
    # python-mirror truth: first doc id per distinct text
    seen, want = set(), []
    for i, t in docs:
        if t not in seen:
            seen.add(t)
            want.append(i)
    got = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert got == sorted(want)
    # replay an arbitrary already-folded batch with a poisoned frame:
    # the mark must skip it outright
    bid = replay % len(batches)
    poisoned = _docs(spark, [(999, "poison never seen")])
    dedup_documents_batch(spark, poisoned, bid, out)
    again = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    assert again == sorted(want)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    variants=st.lists(
        st.integers(min_value=0, max_value=2), min_size=2, max_size=8
    ),
    cuts=st.sets(st.integers(min_value=1, max_value=7), max_size=2),
)
def test_near_dedup_fold_sequence_property(spark, tmp_path_factory,
                                           variants, cuts):
    """Property over the append-only band state: for ANY partition of
    a doc list into ordered batches, the unioned per-batch pairs equal
    one full-corpus minhash_lsh_pairs run — the incremental operator's
    contract carried through the fold's persistence path."""
    from sales_data_warehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from sales_data_warehouse_spark.streaming.documents import (
        near_dedup_documents_batch,
    )

    base = [
        "the quick brown fox jumps over the lazy dog tonight",
        "pack my box with five dozen liquor jugs right now",
        "sphinx of black quartz judge my vow before sundown",
    ]
    docs = [(i, base[v] + f" t{i % 2}") for i, v in enumerate(variants)]
    bounds = sorted(b for b in cuts if b < len(docs))
    batches, lo = [], 0
    for b in bounds + [len(docs)]:
        if b > lo:
            batches.append(docs[lo:b])
            lo = b
    out = str(tmp_path_factory.mktemp("near_prop") / "near")
    for bid, rows in enumerate(batches):
        near_dedup_documents_batch(spark, _docs(spark, rows), bid, out)
    got = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in spark.read.parquet(f"{out}/pairs").drop(
            "batch_id"
        ).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["est_jaccard"])
        for r in minhash_lsh_pairs(_docs(spark, docs)).collect()
    }
    assert got == want


def test_missing_mark_file_falls_back_to_success_scan(
    spark, batches, tmp_path
):
    """A DELETED mark file (not just torn) must also resolve through
    the partition _SUCCESS scan: the poisoned replay is still skipped
    and the next real fold re-stamps the mark."""
    import os

    from sales_data_warehouse_spark.sources.compaction import (
        fs_read_text,
    )

    out = str(tmp_path / "dedup")
    b1, b2 = batches
    dedup_documents_batch(spark, b1, 0, out)
    dedup_documents_batch(spark, b2, 1, out)
    before = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    )
    os.remove(f"{out}/fingerprints/_last_batch")
    poisoned = _docs(spark, [(99, "never seen text")])
    dedup_documents_batch(spark, poisoned, 1, out)  # replay of batch 1
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == before
    # a real next fold recomputes the mark from the scan and re-stamps
    b3 = _docs(spark, [(7, "delta text")])
    dedup_documents_batch(spark, b3, 2, out)
    assert fs_read_text(spark, f"{out}/fingerprints/_last_batch") == "2"
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/admitted").collect()
    ) == before + [7]
