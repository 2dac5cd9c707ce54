"""Round-9 changes (r8 VERDICT/ADVICE + review): mixed integral/
fractional as-of key warning, ivf_cell_stats wired into the streaming
embedding ingest (with the stats throttle and the visible-by-default
rebuild warning), and the fuzzy R-S edit_distance_join (fixture +
hypothesis DP-oracle property, blocking, guards). The PassJoin
self-join suite lives in test_round8_ops.py."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from test_asof_grouped import cogroup_asof

from sales_data_warehouse_spark.operators import asof

SF_DIR = "/root/testdata/sf0.001"


def _mixed_fixture(spark, right_type: str):
    left = spark.createDataFrame(
        [(1, 100), (1, 205)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 100), (1, 200)], "k long, ts long"
    ).withColumn("ts", F.col("ts").cast(right_type))
    return left, right


def test_asof_mixed_numeric_keys_warn(spark):
    """Exactly one integral side + one fractional side widens the
    _ts_micros comparison to double (exactness degrades above 2^53):
    both the broadcast engine and the grouped union engine warn at
    plan-build time; matched families stay silent (r8 brief #8)."""
    left, right_d = _mixed_fixture(spark, "double")
    with pytest.warns(UserWarning, match="mixed integral/fractional"):
        asof.asof_join(left, right_d, ["k"], "ts", "ts")
    with pytest.warns(UserWarning, match="mixed integral/fractional"):
        asof.asof_join_grouped(left, right_d, ["k"], "ts", "ts")
    # decimal with scale > 0 is fractional too
    _, right_dec = _mixed_fixture(spark, "decimal(10,2)")
    with pytest.warns(UserWarning, match="mixed integral/fractional"):
        asof.asof_join(left, right_dec, ["k"], "ts", "ts")


def test_asof_numeric_vs_temporal_keys_warn(spark):
    """A numeric key against a temporal key compares raw numbers
    against epoch-microseconds — mismatched units, the worse schema
    bug (r9 review). The union plan and the cogroup oracle build the
    join in the micros domain, so the plan constructs and SILENTLY
    mis-units: they must warn. The broadcast plan compares the raw columns and Catalyst
    refuses to coerce DATE vs BIGINT — it hard-fails at analysis, but
    the warning still fires first (it explains WHY the join died)."""
    left = spark.createDataFrame([(1, 100)], "k long, ts long")
    right = spark.createDataFrame(
        [(1, "2024-01-01")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("date"))
    with pytest.warns(UserWarning, match="mixed numeric/temporal"):
        cogroup_asof(left, right, ["k"], "ts", "ts")
    with pytest.warns(UserWarning, match="mixed numeric/temporal"):
        asof.asof_join_grouped(left, right, ["k"], "ts", "ts")
    from pyspark.errors import AnalysisException

    with pytest.warns(UserWarning, match="mixed numeric/temporal"):
        with pytest.raises(AnalysisException):
            asof.asof_join(left, right, ["k"], "ts", "ts")


def test_asof_matched_numeric_keys_no_warn(spark):
    """Integral-vs-integral (incl. DECIMAL(p,0)) and temporal-vs-
    temporal (date vs timestamp — both land in epoch micros) do not
    trigger the mixed-family warning."""
    left, _ = _mixed_fixture(spark, "double")
    base = spark.createDataFrame([(1, 100), (1, 200)], "k long, ts long")
    right_int = base.withColumn("ts", F.col("ts").cast("int"))
    right_dec0 = base.withColumn("ts", F.col("ts").cast("decimal(20,0)"))
    dates = spark.createDataFrame(
        [(1, "2024-01-02")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("date"))
    stamps = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k long, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        asof.asof_join(left, right_int, ["k"], "ts", "ts")
        asof.asof_join(left, right_dec0, ["k"], "ts", "ts")
        asof.asof_join_grouped(left, right_int, ["k"], "ts", "ts")
        asof.asof_join(dates, stamps, ["k"], "ts", "ts")


def test_streaming_ivf_append_drift_monitor(spark, tmp_path):
    """r8 VERDICT #6: the cell-size monitor must FIRE inside the
    streaming append loop. Seed a balanced index, stream two drop
    files whose vectors all land in one cell (copies of one seed
    vector): every micro-batch reports stats via on_stats, the
    skew_ratio climbs batch over batch, and crossing skew_warn_ratio
    raises the loud rebuild warning."""
    from sales_data_warehouse_spark.operators import similarity
    from sales_data_warehouse_spark.streaming import (
        start_streaming_ivf_append,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    path = str(tmp_path / "ivf")
    index = similarity.build_ivf_index(emb, num_centroids=4, cache=False)
    similarity.save_ivf_index(index, path)
    base = similarity.ivf_cell_stats(spark, path)

    one = emb.limit(1).collect()[0]
    drop = str(tmp_path / "drop")
    for f in range(2):
        spark.createDataFrame(
            [(100_000 + f * 1000 + i, one.embedding, 0)
             for i in range(150)],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("append").parquet(drop)

    seen: list[tuple[int, similarity.IvfCellStats]] = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = start_streaming_ivf_append(
            spark,
            drop,
            path,
            available_now=True,
            on_stats=lambda bid, st: seen.append((bid, st)),
            skew_warn_ratio=4.0,
        )
        q.awaitTermination(120)
    assert len(seen) == 2, f"expected 2 micro-batches, saw {seen}"
    ratios = [st.skew_ratio for _, st in seen]
    assert ratios[0] > base.skew_ratio
    assert ratios[1] > ratios[0]
    assert seen[-1][1].total_rows == 64 + 300
    rebuild_warns = [
        w for w in caught
        # UserWarning, not ResourceWarning: the default CPython filters
        # hide ResourceWarning, and the rebuild signal must be visible
        # in a plain driver
        if issubclass(w.category, UserWarning)
        and "rebuild the index" in str(w.message)
    ]
    assert rebuild_warns, "skew crossing the threshold must warn"


def test_ivf_append_batch_stats_throttle(spark, tmp_path):
    """compute_stats=False appends without the full-table monitor scan
    (the stats_every_n_batches hot-path knob) and returns None."""
    from sales_data_warehouse_spark.operators import similarity
    from sales_data_warehouse_spark.streaming import ivf_append_batch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(32)
    path = str(tmp_path / "ivf")
    index = similarity.build_ivf_index(emb, num_centroids=4, cache=False)
    similarity.save_ivf_index(index, path)
    batch = emb.limit(4).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding", "label"
    )
    assert ivf_append_batch(
        spark, path, batch, batch_id=0, compute_stats=False
    ) is None
    after = ivf_append_batch(spark, path, batch, batch_id=1)
    assert after.total_rows == 32 + 8


def test_ivf_append_batch_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id) whose marker committed
    must NOT double-append — same contract as the doc-dedup batch
    function; stats still come back (read-only)."""
    from sales_data_warehouse_spark.operators import similarity
    from sales_data_warehouse_spark.streaming import ivf_append_batch

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    path = str(tmp_path / "ivf")
    index = similarity.build_ivf_index(emb, num_centroids=4, cache=False)
    similarity.save_ivf_index(index, path)

    batch = emb.limit(8).select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        "embedding",
        "label",
    )
    first = ivf_append_batch(spark, path, batch, batch_id=7)
    assert first.total_rows == 64 + 8
    replay = ivf_append_batch(spark, path, batch, batch_id=7)
    assert replay.total_rows == 64 + 8, "replay must not double-append"
    fresh = ivf_append_batch(spark, path, batch, batch_id=8)
    assert fresh.total_rows == 64 + 16


# one oracle, not two: the DP-Levenshtein and key-normalization
# helpers live in the round-8 suite — re-deriving them here could let
# the two files' oracles drift apart from _edit_key
from test_round8_ops import _lev  # noqa: E402
from test_round8_ops import _norm_key as _norm  # noqa: E402


def test_edit_distance_join_vs_bruteforce(spark):
    """R-S PassJoin == all-pairs DP truth at d=0..2: the segment
    blocking stays pigeonhole-complete across two distinct relations
    (a left row may match many right rows and vice versa; no
    doc_a < doc_b ordering — every qualifying ordered (left, right)
    pair appears exactly once)."""
    from sales_data_warehouse_spark.operators import dedup

    lt = ["breaking news today", "breaking  News toda", "x", "",
          "the cat sat"]
    rt = ["breaking news today!", "the cat sat", "xy", "zzz"]
    L = spark.createDataFrame(list(enumerate(lt)), "doc_id long, text string")
    R = spark.createDataFrame(list(enumerate(rt)), "doc_id long, text string")
    for d in (0, 1, 2):
        got = sorted(
            (r.left_id, r.right_id, r.dist)
            for r in dedup.edit_distance_join(
                L, R, max_dist=d, warn_unblocked=False
            ).collect()
        )
        want = sorted(
            (a, b, _lev(_norm(x), _norm(y)))
            for a, x in enumerate(lt)
            for b, y in enumerate(rt)
            if _lev(_norm(x), _norm(y)) <= d
        )
        assert got == want, f"d={d}"
    # sanity: the d=2 truth set is non-trivial in every direction
    assert (0, 0, 1) in got and (4, 1, 0) in got and (2, 2, 1) in got


def test_edit_distance_join_blocking(spark):
    """left_block/right_block restrict matches to equal block values
    (null-rejecting, both sides); passing only one side raises."""
    from sales_data_warehouse_spark.operators import dedup

    L = spark.createDataFrame(
        [(1, "same title", "en"), (2, "same title", "fr"),
         (3, "same title", None)],
        "doc_id long, text string, lang string",
    )
    R = spark.createDataFrame(
        [(10, "same title", "en"), (11, "same title", None)],
        "doc_id long, text string, lang string",
    )
    blocked = dedup.edit_distance_join(
        L, R, max_dist=2, left_block="lang", right_block="lang"
    )
    assert {(r.left_id, r.right_id) for r in blocked.collect()} == {(1, 10)}
    with pytest.raises(ValueError, match="together"):
        dedup.edit_distance_join(L, R, left_block="lang")
    # unblocked default is loud (same _warn_loud contract as the
    # self-join and the uncapped shingle joins)
    with pytest.warns(ResourceWarning, match="left_block"):
        dedup.edit_distance_join(L, R)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.edit_distance_join(
            L, R, left_block="lang", right_block="lang"
        )
        dedup.edit_distance_join(L, R, warn_unblocked=False)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# Same short-alphabet regime as the self-join property suite: maximal
# collisions near the threshold plus degenerate segment geometry
# (zero-length segments, keys shorter than max_dist+1, empty keys).
_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lt=_texts, rt=_texts)
def test_edit_distance_join_matches_bruteforce(spark, lt, rt):
    """Property: the R-S PassJoin returns EXACTLY the all-pairs DP
    truth set across two random relations — the cross-relation twin of
    the self-join done-gate."""
    from sales_data_warehouse_spark.operators import dedup

    L = spark.createDataFrame(list(enumerate(lt)), "doc_id long, text string")
    R = spark.createDataFrame(list(enumerate(rt)), "doc_id long, text string")
    got = sorted(
        (r.left_id, r.right_id, r.dist)
        for r in dedup.edit_distance_join(
            L, R, max_dist=2, warn_unblocked=False
        ).collect()
    )
    want = sorted(
        (a, b, _lev(_norm(x), _norm(y)))
        for a, x in enumerate(lt)
        for b, y in enumerate(rt)
        if _lev(_norm(x), _norm(y)) <= 2
    )
    assert got == want


def test_ivf_recall_audit_full_probe_is_exact(spark):
    """Invariant: probing EVERY cell makes IVF search identical to
    brute force (same candidates, same deterministic tie-break), so
    the audit must report recall exactly 1.0 — any deviation means
    the two top-k paths rank or tie differently, which is the bug
    class the audit must never mask."""
    from sales_data_warehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = similarity.build_ivf_index(emb, num_centroids=4)
    s = similarity.ivf_recall_audit(
        idx, k=5, nprobe=4, sample_permille=60
    )
    assert s.n_queries > 0
    assert s.truth_hits == s.n_queries * 5
    assert s.caught_hits == s.truth_hits
    assert s.recall_at_k == 1.0


def test_ivf_recall_audit_partial_probe_bounds(spark):
    """nprobe=1-of-8 must stay below full-probe recall (it sees a
    fraction of the corpus) while the audit arithmetic still holds:
    caught <= truth, recall = caught/truth rounded 6."""
    from sales_data_warehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = similarity.build_ivf_index(emb, num_centroids=8)
    s = similarity.ivf_recall_audit(
        idx, k=5, nprobe=1, sample_permille=60
    )
    assert 0 < s.caught_hits < s.truth_hits
    assert s.recall_at_k == round(s.caught_hits / s.truth_hits, 6)


def test_ivf_recall_audit_empty_sample_is_null(spark):
    """A permille of 0 samples no queries: zero evidence must come
    back as NULL recall, never 1.0."""
    from sales_data_warehouse_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = similarity.build_ivf_index(emb, num_centroids=4)
    row = similarity.ivf_recall_audit_df(
        idx, k=5, nprobe=4, sample_permille=0
    ).collect()[0]
    assert row["n_queries"] == 0
    assert row["truth_hits"] == 0
    assert row["recall_at_k"] is None


def test_streaming_ivf_append_recall_monitor(spark, tmp_path):
    """The QUALITY half of the rebuild decision must fire inside the
    streaming loop too: with the audit scheduled every batch at
    nprobe=1-of-4 and a floor the partial probe cannot clear, each
    micro-batch reports a measured recall row via on_recall (sane
    arithmetic: truth = 5 x queries, recall < 1) and raises the
    recall-specific rebuild warning."""
    from sales_data_warehouse_spark.operators import similarity
    from sales_data_warehouse_spark.streaming import (
        start_streaming_ivf_append,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    seed = emb.limit(64)
    path = str(tmp_path / "ivf")
    index = similarity.build_ivf_index(seed, num_centroids=4, cache=False)
    similarity.save_ivf_index(index, path)

    extra = emb.filter(
        (F.col("vec_id") >= 64) & (F.col("vec_id") < 164)
    ).collect()
    drop = str(tmp_path / "drop")
    for half in (extra[:50], extra[50:]):
        spark.createDataFrame(
            [(r.vec_id, r.embedding, r.label) for r in half],
            "vec_id long, embedding array<float>, label int",
        ).coalesce(1).write.mode("append").parquet(drop)

    audits: list[tuple[int, similarity.IvfRecallStats]] = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        q = start_streaming_ivf_append(
            spark,
            drop,
            path,
            available_now=True,
            recall_audit_every_n_batches=1,
            recall_nprobe=1,
            recall_floor=0.95,
            recall_sample_permille=100,
            on_recall=lambda bid, a: audits.append((bid, a)),
        )
        q.awaitTermination(120)
    assert len(audits) == 2, f"expected 2 audits, saw {audits}"
    for _, a in audits:
        assert a.n_queries > 0
        assert a.truth_hits == a.n_queries * 5
        assert a.caught_hits < a.truth_hits  # 1-of-4 probe misses some
        assert a.recall_at_k < 0.95
    recall_warns = [
        w for w in caught
        if issubclass(w.category, UserWarning)
        and "COSTING search quality" in str(w.message)
    ]
    assert len(recall_warns) == 2, "sub-floor recall must warn per audit"
