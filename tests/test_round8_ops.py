"""Round-8 changes (r7 VERDICT/ADVICE): string-safe knn_label_vote
tie-break, semantic_dedup error-path cache release, exact bigint as-of
keys above 2^53, the asof_join_auto routing boundary, and the IVF
cell-size drift monitor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators import asof, similarity

SF_DIR = "/root/testdata/sf0.001"


def test_knn_label_vote_string_labels_tiebreak(spark):
    """r7 ADVICE: the smallest-label tie preference must hold for ANY
    orderable label type — the advertised uses (quality tiers,
    domains) are naturally strings, and the old ``-label`` negation
    cast-failed on them under ANSI mode."""
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], "web"),
            (11, [0.99, 0.14], "web"),
            (12, [0.95, 0.31], "books"),
            (13, [0.0, 1.0], "books"),
        ],
        "vec_id long, embedding array<float>, label string",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.05])], "vec_id long, embedding array<float>"
    )
    # k=4 over 4 vectors: 2 'web' vs 2 'books' — tie picks the
    # lexicographically smallest label
    got = similarity.knn_label_vote(corpus, queries, k=4).collect()
    assert [(r.pred_label, r.votes, r.n_neighbors) for r in got] == [
        ("books", 2, 4)
    ]
    # clear majority still wins regardless of lexicographic order
    maj = similarity.knn_label_vote(corpus, queries, k=3).collect()
    assert [(r.pred_label, r.votes) for r in maj] == [("web", 2)]


def test_semantic_dedup_oversize_error_releases_cache(spark):
    """r7 ADVICE (medium): the oversize='error' guard path raises
    BEFORE the weakref release hook is attached to a result, so it
    must unpersist the assignment cache itself — otherwise every
    failed call pins the full table in the CacheManager for the
    application lifetime (the exact r6 leak class)."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="exceed max_cell_rows"):
        similarity.semantic_dedup(
            emb, threshold=0.4, num_centroids=4,
            max_cell_rows=1, oversize="error",
        )
    assert cm.isEmpty(), "failed semantic_dedup call pinned its cache"


@pytest.mark.parametrize("engine", ["broadcast", "union"])
def test_asof_bigint_keys_exact_above_2_53(spark, engine):
    """r7 ADVICE: integral as-of keys must stay bigint. 2^53 and
    2^53+1 collapse to the same double, which (a) breaks strict
    (allow_exact_matches=False) comparisons — the same-instant version
    looks non-equal-but-non-less, so NO version matches — and (b) can
    merge distinct timestamps in the union engine's sort."""
    base = 9_007_199_254_740_992  # 2^53
    left = spark.createDataFrame(
        [("k", base + 1)], "grp string, ts long"
    )
    right = spark.createDataFrame(
        [("k", base, "older"), ("k", base + 1, "same_instant")],
        "grp string, ts long, tag string",
    )
    kw = dict(direction="backward", allow_exact_matches=False)
    if engine == "broadcast":
        got = asof.asof_join(
            left, right.withColumnRenamed("ts", "rts"),
            ["grp"], "ts", "rts", **kw,
        ).collect()
    else:
        got = asof.asof_join_grouped(
            left, right.withColumnRenamed("ts", "rts"),
            ["grp"], "ts", "rts", **kw,
        ).collect()
    # strict backward from 2^53+1 must find the version at 2^53 —
    # under a double cast both timestamps collapse and nothing matches
    assert [(r.tag, r.rts) for r in got] == [("older", base)]


@pytest.mark.parametrize("engine", ["broadcast", "union"])
def test_asof_decimal_integral_keys_exact(spark, engine):
    """r8 review: DECIMAL(p,0) integral keys (exported bigint ids /
    epochs) must stay exact too — they map to decimal(38,0), which is
    exact above 2^53 AND above 2^63 where a bigint cast would silently
    NULL under ANSI-off. Same strict-backward probe as the long test,
    but through decimal columns."""
    from decimal import Decimal

    base = Decimal(9_007_199_254_740_992)  # 2^53
    left = spark.createDataFrame(
        [("k", base + 1)], "grp string, ts decimal(20,0)"
    )
    right = spark.createDataFrame(
        [("k", base, "older"), ("k", base + 1, "same_instant")],
        "grp string, rts decimal(20,0), tag string",
    )
    kw = dict(direction="backward", allow_exact_matches=False)
    if engine == "broadcast":
        got = asof.asof_join(left, right, ["grp"], "ts", "rts", **kw)
    else:
        got = asof.asof_join_grouped(
            left, right, ["grp"], "ts", "rts", **kw
        )
    assert [(r.tag, int(r.rts)) for r in got.collect()] == [
        ("older", int(base))
    ]


def test_asof_auto_routes_union_past_broadcast_limit(spark):
    """r7 VERDICT #9: pin the router's decision at the boundary. While
    the right side's size estimate times the margin is at or under
    spark.sql.autoBroadcastJoinThreshold the broadcast + max_by plan
    runs (a join node, no Window); one byte past it, asof_join_grouped's
    union engine (no join node, running-last Window over the union)."""
    from sales_data_warehouse_spark.session import BROADCAST_SIZE_MARGIN
    left = spark.createDataFrame(
        [("k", i) for i in range(10)], "grp string, ts long"
    )
    # from range, not a Python list: an RDD-backed frame has no size
    # estimate (Long.MaxValue) and never fits a broadcast
    right = spark.range(5).selectExpr(
        "'k' AS grp", "id * 2 AS rts", "CAST(id AS DOUBLE) AS price"
    )

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    stats = right._jdf.queryExecution().optimizedPlan().stats()
    edge = int(str(stats.sizeInBytes())) * BROADCAST_SIZE_MARGIN
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(edge))
        under = asof.asof_join_auto(left, right, ["grp"], "ts", "rts")
        p_under = plan(under)
        spark.conf.set(key, str(edge - 1))
        over = asof.asof_join_auto(left, right, ["grp"], "ts", "rts")
        p_over = plan(over)
    finally:
        spark.conf.set(key, old)
    assert "Join" in p_under and "Window" not in p_under
    assert "Window" in p_over and "Join" not in p_over
    # both routes agree on the answer (and with the broadcast truth)
    truth = sorted(
        (r.grp, r.ts, r.rts, r.price)
        for r in asof.asof_join(
            left, right, ["grp"], "ts", "rts"
        ).collect()
    )
    for df in (under, over):
        assert sorted(
            (r.grp, r.ts, r.rts, r.price) for r in df.collect()
        ) == truth


def test_assign_cells_agrees_with_kmeans_prediction(spark):
    """r7 ADVICE: ivf_append's recall-neutrality rests on assign_cells'
    numpy squared-L2 argmin agreeing with Spark KMeansModel's
    prediction kernel. The two evaluate floating point differently, so
    the docstring scopes the guarantee to non-borderline vectors — this
    pins the agreement empirically on the real test corpus (no vector
    of which sits exactly equidistant between centroids): re-assigning
    the INDEXED vectors through assign_cells must reproduce the
    builder's own cells bit-for-bit."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    index = similarity.build_ivf_index(emb, num_centroids=8, cache=False)
    built = {
        r.neighbor_id: r.cell for r in index.assigned.collect()
    }
    re_assigned = {
        r.neighbor_id: r.cell
        for r in similarity.assign_cells(
            emb, index.centers
        ).collect()
    }
    assert re_assigned == built


def test_ivf_cell_stats_reports_append_skew(spark, tmp_path):
    """r7 VERDICT #8: the drift monitor ivf_append's docstring
    prescribes. Balanced seed index -> low skew; a lopsided append
    (every new vector lands in one cell) -> max/median ratio grows and
    total_rows tracks the append."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    path = str(tmp_path / "ivf")
    index = similarity.build_ivf_index(emb, num_centroids=4, cache=False)
    similarity.save_ivf_index(index, path)

    before = similarity.ivf_cell_stats(spark, path)
    assert before.n_cells >= 1
    assert before.total_rows == 64
    assert before.max_rows >= before.median_rows > 0
    assert before.skew_ratio >= 1.0
    assert [c for c, in before.per_cell.select("cell").collect()]

    # append 200 copies of one existing vector: all land in one cell
    one = emb.limit(1).select(
        F.col("vec_id"), F.col("embedding")
    ).collect()[0]
    batch = spark.createDataFrame(
        [(10_000 + i, one.embedding) for i in range(200)],
        "vec_id long, embedding array<float>",
    )
    similarity.ivf_append(spark, path, batch)
    after = similarity.ivf_cell_stats(spark, path)
    assert after.total_rows == 264
    assert after.max_rows >= 200
    assert after.skew_ratio > before.skew_ratio


def _lev(a: str, b: str) -> int:
    """Brute-force Levenshtein DP — the test oracle."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                )
            )
        prev = cur
    return prev[-1]


def _norm_key(text: str, prefix_chars: int = 64) -> str:
    import re

    return re.sub(r"\s+", " ", text.lower()).strip()[:prefix_chars]


def test_edit_distance_near_pairs_vs_bruteforce(spark):
    """Blocked plan == all-pairs truth: every pair within max_dist on
    the normalized key is found (PassJoin segment blocking is
    pigeonhole-complete), nothing above it survives, and dist values
    match a DP oracle. The fixture keeps a dist-1 pair of UNEQUAL key
    lengths (7 vs 8) to pin the cross-length probe path (tlen != own
    length), plus a normalization-collapse dist-0 pair."""
    from sales_data_warehouse_spark.operators import dedup

    rows = [
        (1, "The quick brown fox jumps"),
        (2, "the quick brown fax jumps"),   # dist 1 to #1
        (3, "the quick brown fox jumps!!"), # dist 2 to #1
        (4, "a completely different doc"),
        (5, "abcdefg"),                      # len 7
        (6, "abcdefgh"),                     # len 8, dist 1 to #5
        (7, "the  QUICK   brown fox jumps"), # normalizes == #1 (dist 0)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.edit_distance_near_pairs(
            docs, max_dist=2, warn_unblocked=False
        ).collect()
    )
    keys = {i: _norm_key(t) for i, t in rows}
    want = sorted(
        (a, b, _lev(keys[a], keys[b]))
        for a in keys
        for b in keys
        if a < b and _lev(keys[a], keys[b]) <= 2
    )
    assert got == want
    assert (5, 6, 1) in got, "unequal-length pair must be found"
    assert (1, 7, 0) in got, "normalization must collapse whitespace/case"
    assert all(a < b for a, b, _ in got)


def test_edit_distance_near_pairs_block_col(spark):
    """block_col restricts candidates to a natural partition (the
    within-source production pass): the same near-identical titles in
    different sources stop pairing."""
    from sales_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "breaking news today", "web"),
            (2, "breaking news toda",  "web"),
            (3, "breaking news today", "books"),
        ],
        "doc_id long, text string, source string",
    )
    unblocked = dedup.edit_distance_near_pairs(
        docs, max_dist=2, warn_unblocked=False
    )
    assert {(r.doc_a, r.doc_b) for r in unblocked.collect()} == {
        (1, 2), (1, 3), (2, 3)
    }
    blocked = dedup.edit_distance_near_pairs(
        docs, max_dist=2, block_col="source"
    )
    assert {(r.doc_a, r.doc_b) for r in blocked.collect()} == {(1, 2)}


def test_edit_distance_arg_guards(spark):
    from sales_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_dist"):
        dedup.edit_distance_near_pairs(docs, max_dist=-1)
    with pytest.raises(ValueError, match="prefix_chars"):
        dedup.edit_distance_near_pairs(
            docs, prefix_chars=0, warn_unblocked=False
        )


def test_edit_distance_segment_buckets_spread_on_real_text(spark):
    """Scale pin for the r8 finding that motivated PassJoin: the old
    length-band key put ALL 500 driver documents in ONE band (every
    key longer than prefix_chars has klen == prefix_chars), making
    candidates all-pairs. The segment join key (klen, seg_idx, seg)
    must spread real text across many buckets — segment TEXT varies
    wherever the documents do."""
    from sales_data_warehouse_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_docs = docs.count()
    buckets = (
        dedup.edit_distance_segment_keys(docs, max_dist=2, prefix_chars=32)
        .select("klen", "seg_idx", "seg")
        .distinct()
        .count()
    )
    # not just ">1": with 3 segments per doc a healthy corpus produces
    # bucket counts on the order of n_docs, not O(1) length-cohorts
    assert buckets > n_docs


def test_edit_distance_unblocked_warns(spark):
    """Loud default, same contract as the uncapped shingle self-joins:
    no block_col -> plan-build-time ResourceWarning; block_col or the
    explicit acknowledgement silences it."""
    import warnings

    from sales_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "x", "web")], "doc_id long, text string, source string"
    )
    with pytest.warns(ResourceWarning, match="block_col"):
        dedup.edit_distance_near_pairs(docs)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        dedup.edit_distance_near_pairs(docs, block_col="source")
        dedup.edit_distance_near_pairs(docs, warn_unblocked=False)


def test_edit_distance_plan_is_hash_join_not_cartesian(spark):
    """Scale pin for the segment blocking: the candidate join must be
    an equi (hash) join whose keys INCLUDE the segment text (r8's band
    key was constant-valued on real corpora — an equi-join in name
    only) — never a cartesian / nested-loop over the corpus — and the
    Levenshtein threshold must sit inside the join/filter, not a
    post-collect step."""
    from sales_data_warehouse_spark.operators import dedup
    from sales_data_warehouse_spark.plans.audit import (
        executed_plan,
        has_nested_loop_join,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = dedup.edit_distance_near_pairs(
        docs, max_dist=2, warn_unblocked=False
    )
    assert not has_nested_loop_join(df, finalized=False)
    plan = executed_plan(df, finalize=False)
    assert "Join" in plan and "levenshtein" in plan.lower()
    join_lines = [ln for ln in plan.split("\n") if "HashJoin" in ln or
                  "SortMergeJoin" in ln]
    assert join_lines, f"no hash/sort-merge join in plan:\n{plan}"
    # the equi-key list must carry the probe substring / index segment
    # columns, not just lengths
    assert any("sub#" in ln and "seg#" in ln for ln in join_lines), (
        f"segment text missing from join keys:\n{join_lines}"
    )


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# Short alphabet + short strings: maximizes collisions near the
# threshold and exercises degenerate segment geometry (zero-length
# segments, keys shorter than max_dist+1), where the blocking could
# break.
_texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=12),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_texts)
def test_edit_distance_blocking_matches_bruteforce(spark, texts):
    """Property: for random short strings (max_dist=2 over keys of
    length 0-12, so segments are 0-4 chars and every geometry edge
    case occurs), the blocked plan returns EXACTLY the all-pairs DP
    truth set with matching distances — the pigeonhole completeness
    done-gate carried over unchanged from the r8 band plan to the r9
    PassJoin plan."""
    from sales_data_warehouse_spark.operators import dedup

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_a, r.doc_b, r.dist)
        for r in dedup.edit_distance_near_pairs(
            docs, max_dist=2, warn_unblocked=False
        ).collect()
    )
    keys = {i: _norm_key(t) for i, t in rows}
    want = sorted(
        (a, b, _lev(keys[a], keys[b]))
        for a in keys
        for b in keys
        if a < b and _lev(keys[a], keys[b]) <= 2
    )
    assert got == want
