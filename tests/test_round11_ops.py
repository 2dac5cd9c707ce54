"""Round-11 changes (r10 VERDICT/ADVICE): JSONL NULL-struct routing
(pinned in test_jsonl.py / test_round10_ops.py next to the reader),
IVF index generation stamping (a rebuild crash between the assigned
and centers swaps must fail loudly at load, not silently collapse
recall), minhash_lsh_join's optional exact-Jaccard rescoring, and the
per-group weighted-sampling variant.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators import dedup, sampling, similarity

SF_DIR = "/root/testdata/sf0.001"


# --- weighted_sample_incremental (A-ES merge property) -----------------


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(rows=[(7, 1.0), (7 + 1_000_003, 1.0), (3, 2.0), (9, 0.5)])
@given(
    rows=st.lists(
        st.tuples(
            st.integers(-2_000_005, 2_000_005),
            st.floats(
                min_value=0.01, max_value=1000.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=2,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
def test_weighted_sample_incremental_equals_global(spark, rows):
    """Property: folding batches through the incremental reservoir
    yields EXACTLY weighted_sample_topk over the concatenation — the
    A-ES key is a pure function of (id, weight) and top-k is
    associative, so batching must be invisible."""
    k = max(1, len(rows) // 2)
    cut = len(rows) // 2
    schema = "doc_id long, w double"
    b1 = spark.createDataFrame(rows[:cut] or rows[:1], schema)
    b2 = spark.createDataFrame(rows[cut:] or rows[-1:], schema)
    r = sampling.weighted_sample_incremental(b1, None, "w", k)
    r = sampling.weighted_sample_incremental(b2, r, "w", k)
    got = sorted(x.doc_id for x in r.collect())
    want = sorted(
        x.doc_id
        for x in sampling.weighted_sample_topk(
            spark.createDataFrame(rows, schema), "w", k
        ).collect()
    )
    assert got == want


def test_weighted_sample_incremental_guards(spark):
    """First-batch None path works; k < 1 raises; reservoir never
    exceeds k rows; NULL/non-positive weights drop."""
    b = spark.createDataFrame(
        [(1, 2.0), (2, None), (3, -1.0), (4, 5.0), (5, 1.0)],
        "doc_id long, w double",
    )
    r = sampling.weighted_sample_incremental(b, None, "w", 2)
    rows = r.collect()
    assert len(rows) == 2
    assert {x.doc_id for x in rows} <= {1, 4, 5}
    with pytest.raises(ValueError, match="k"):
        sampling.weighted_sample_incremental(b, None, "w", 0)


def test_minhash_join_exact_plan_ships_ids_only(spark):
    """Plan pin for the docstring's shuffle claim: in exact mode the
    candidate pass must not carry the minhash signature arrays through
    the (band, bucket) join — ids only (the signatures exist in the
    estimate plan, which is the control here)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    L, R = docs.filter(par == 0), docs.filter(par == 1)
    exact_plan = (
        dedup.minhash_lsh_join(L, R, verify="exact")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    est_plan = (
        dedup.minhash_lsh_join(L, R)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "sig_a" in est_plan  # control: the pin actually sees columns
    assert "sig_a" not in exact_plan and "sig_b" not in exact_plan


# --- streaming weighted reservoir --------------------------------------


def test_reservoir_fold_batch_replay_semantics(spark, tmp_path):
    """The plain fold function: marker skips a re-delivered batch; even
    WITHOUT the marker a re-fold is a no-op (id-idempotent merge), so
    the crash window between swap and marker changes nothing."""
    from sales_data_warehouse_spark.streaming import reservoir_fold_batch

    res = str(tmp_path / "res")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    n0 = reservoir_fold_batch(spark, res, b0, 0, "n_chars", 25)
    assert n0 == 25
    n1 = reservoir_fold_batch(spark, res, b1, 1, "n_chars", 25)
    assert n1 == 25
    after = {
        r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()
    }
    # marker-guarded replay: same batch id, nothing recomputed
    reservoir_fold_batch(spark, res, b0, 0, "n_chars", 25)
    assert {
        r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()
    } == after
    # crash-window replay (late r14 mark design): the swap landed but
    # the mark write didn't — simulate by winding the mark back one
    # batch, then replay the LAST batch; the fold actually re-runs and
    # the id-idempotent merge must leave the reservoir unchanged
    from sales_data_warehouse_spark.sources.compaction import (
        fs_read_text,
        fs_write_text,
    )

    fs_write_text(spark, f"{res}/_ingest_batches/_last_batch", "0")
    reservoir_fold_batch(spark, res, b1, 1, "n_chars", 25)
    assert {
        r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()
    } == after
    assert fs_read_text(spark, f"{res}/_ingest_batches/_last_batch") == "1"
    # and the final reservoir equals the global sampler over the union
    want = {
        r.doc_id
        for r in sampling.weighted_sample_topk(docs, "n_chars", 25).collect()
    }
    assert after == want


def test_reservoir_fold_recovers_mid_swap_crash(spark, tmp_path):
    """The r11-review finding: a crash between staged_overwrite's two
    renames leaves rows missing and rows.stage_old holding the only
    copy. The next fold must RESTORE it — treating the state as 'first
    batch' would silently reset the reservoir to the current batch."""
    import shutil

    from sales_data_warehouse_spark.sources.compaction import fs_delete
    from sales_data_warehouse_spark.streaming import reservoir_fold_batch

    res = str(tmp_path / "res")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    reservoir_fold_batch(spark, res, b0, 0, "n_chars", 25)
    before = {
        r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()
    }
    # simulate the mid-swap crash during batch 1: rows renamed away,
    # marker never written
    shutil.move(f"{res}/rows", f"{res}/rows.stage_old")
    n = reservoir_fold_batch(spark, res, b1, 1, "n_chars", 25)
    assert n == 25
    got = {r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()}
    want = {
        r.doc_id
        for r in sampling.weighted_sample_topk(docs, "n_chars", 25).collect()
    }
    assert got == want  # batch-0 contribution survived the crash
    assert got != {  # and it is NOT just a reset to batch 1
        r.doc_id
        for r in sampling.weighted_sample_topk(b1, "n_chars", 25).collect()
    }
    assert before  # sanity: batch 0 actually contributed rows
    fs_delete(spark, res)


def test_streaming_weighted_sample_drain(spark, tmp_path):
    """availableNow drain over a multi-shard drop dir: the persisted
    reservoir equals weighted_sample_topk over the whole corpus, and
    fold sizes were reported per batch."""
    from sales_data_warehouse_spark.streaming import (
        start_streaming_weighted_sample,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    drop = str(tmp_path / "drop")
    docs.repartition(3).write.parquet(drop)
    res = str(tmp_path / "res")
    folds = []
    q = start_streaming_weighted_sample(
        spark,
        drop,
        res,
        weight_col="n_chars",
        k=40,
        available_now=True,
        on_fold=lambda bid, n: folds.append((bid, n)),
    )
    q.awaitTermination(180)
    got = {r.doc_id for r in spark.read.parquet(f"{res}/rows").collect()}
    want = {
        r.doc_id
        for r in sampling.weighted_sample_topk(docs, "n_chars", 40).collect()
    }
    assert got == want
    assert folds and folds[-1][1] == 40


# --- IVF generation manifest (r10 ADVICE #2) ---------------------------


def _tiny_index(spark, tmp_path, name="ivf"):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(32)
    path = str(tmp_path / name)
    similarity.save_ivf_index(
        similarity.build_ivf_index(emb, num_centroids=4, cache=False),
        path,
    )
    return emb, path


def test_ivf_generation_matched_pair_loads(spark, tmp_path):
    """save_ivf_index stamps both parts with one generation; load
    verifies and succeeds. rebuild_ivf_index restamps — the reloaded
    index still answers searches."""
    from sales_data_warehouse_spark.sources.compaction import fs_read_text

    emb, path = _tiny_index(spark, tmp_path)
    gen_a = fs_read_text(spark, f"{path}/assigned/_generation")
    gen_c = fs_read_text(spark, f"{path}/centers/_generation")
    assert gen_a is not None and gen_a == gen_c

    idx = similarity.load_ivf_index(spark, path)
    assert similarity.ivf_search(idx, emb.limit(2), k=3, nprobe=4).count() == 6

    rebuilt = similarity.rebuild_ivf_index(spark, path, num_centroids=4)
    gen_a2 = fs_read_text(spark, f"{path}/assigned/_generation")
    gen_c2 = fs_read_text(spark, f"{path}/centers/_generation")
    assert gen_a2 == gen_c2 and gen_a2 != gen_a  # fresh generation
    assert (
        similarity.ivf_search(rebuilt, emb.limit(2), k=3, nprobe=4).count()
        == 6
    )


def test_ivf_rebuild_recovers_mid_swap_crash(spark, tmp_path):
    """rebuild_ivf_index after a save that crashed mid-swap (path
    missing, path.stage_old intact) recovers the previous generation
    before reading {path}/assigned — the same entry contract as
    load_ivf_index — instead of failing on a missing path the
    recovery protocol could have restored (r13 advice)."""
    import os
    import shutil

    emb, path = _tiny_index(spark, tmp_path)
    shutil.move(path, path + ".stage_old")
    rebuilt = similarity.rebuild_ivf_index(spark, path, num_centroids=4)
    assert not os.path.exists(path + ".stage_old")
    assert (
        similarity.ivf_search(rebuilt, emb.limit(2), k=3, nprobe=4).count()
        == 6
    )


def test_ivf_generation_mismatch_fails_loudly(spark, tmp_path):
    """The crash signature the manifest exists for: assigned swapped to
    the new generation, centers still the old one. load_ivf_index must
    refuse — a mixed index loads structurally fine but probes cells
    against the wrong centroids (silent recall collapse)."""
    from sales_data_warehouse_spark.sources.compaction import fs_write_text

    _, path = _tiny_index(spark, tmp_path)
    fs_write_text(spark, f"{path}/assigned/_generation", "other-gen")
    with pytest.raises(IOError, match="generation mismatch"):
        similarity.load_ivf_index(spark, path)


def test_ivf_generation_one_marker_missing_fails(spark, tmp_path):
    """One stamped part plus one unstamped part is also a mixed pair
    (e.g. new assigned swapped in over a pre-stamping index)."""
    from sales_data_warehouse_spark.sources.compaction import fs_delete

    _, path = _tiny_index(spark, tmp_path)
    fs_delete(spark, f"{path}/centers/_generation")
    with pytest.raises(IOError, match="generation mismatch"):
        similarity.load_ivf_index(spark, path)


def test_ivf_save_is_atomic_and_resave_safe(spark, tmp_path):
    """r13: the whole index directory swaps as one staged_overwrite_dir
    swap. A mid-swap crash (path missing, .stage_old intact) must
    reopen the previous generation via load's recover_staged; a
    reopen-then-resave to the SAME path (the assigned frame is a lazy
    scan of the destination) must round-trip — the pre-r13 per-part
    mode('overwrite') destroyed the generation being read."""
    import shutil

    emb, path = _tiny_index(spark, tmp_path)
    idx = similarity.load_ivf_index(spark, path)
    n0 = idx.assigned.count()

    # reopen-then-resave in place
    similarity.save_ivf_index(idx, path)
    again = similarity.load_ivf_index(spark, path)
    assert again.assigned.count() == n0
    assert again.centers == idx.centers

    # mid-swap crash window: the whole directory staged away
    shutil.move(path, path + ".stage_old")
    recovered = similarity.load_ivf_index(spark, path)
    assert recovered.assigned.count() == n0
    assert (
        similarity.ivf_search(recovered, emb.limit(2), k=3, nprobe=4)
        .count()
        == 6
    )


# --- minhash_lsh_join verify='exact' (r10 VERDICT "What's wrong" #1) ---


def test_minhash_join_exact_fixture(spark):
    """Identical texts pair at exact jaccard 1.0; the exact column is
    named `jaccard` (it IS the exact value, not an estimate); a bogus
    verify mode raises."""
    L = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated text about spark partitions"),
        ],
        "doc_id long, text string",
    )
    R = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "zzz qqq xxx yyy www vvv uuu ttt sss rrr"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.left_id, r.right_id, r.jaccard)
        for r in dedup.minhash_lsh_join(
            L, R, threshold=0.3, verify="exact"
        ).collect()
    }
    assert got == {(1, 10, 1.0)}
    with pytest.raises(ValueError, match="verify"):
        dedup.minhash_lsh_join(L, R, verify="bogus")
    with pytest.raises(ValueError, match="threshold"):
        # a zero-overlap bucket collision has no exact score — the
        # recall-never-drops guarantee requires threshold > 0
        dedup.minhash_lsh_join(L, R, threshold=0.0, verify="exact")


def test_minhash_join_exact_precision_and_recall(spark):
    """The exact-verify property gate on real documents: against the
    cross-parity exact-Jaccard truth set, verify='exact' has precision
    1.0 (its filter IS the truth criterion, so a false positive is
    impossible) while losing NO true pair the estimate mode found —
    precision rises at equal-or-better recall. Also pins the recovery
    direction: any candidate whose estimate dipped below threshold but
    whose true Jaccard clears it comes back in exact mode."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    tagged = docs.withColumn("par", par)
    left, right = tagged.filter("par = 0"), tagged.filter("par = 1")

    # truth: exact n-gram Jaccard >= threshold, restricted cross-parity
    parity = {
        r.doc_id: r.par for r in tagged.select("doc_id", "par").collect()
    }
    truth = set()
    for r in dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, warn_uncapped=False
    ).collect():
        pa, pb = parity[r.doc_a], parity[r.doc_b]
        if pa == 0 and pb == 1:
            truth.add((r.doc_a, r.doc_b))
        elif pa == 1 and pb == 0:
            truth.add((r.doc_b, r.doc_a))

    est = {
        (r.left_id, r.right_id)
        for r in dedup.minhash_lsh_join(left, right, threshold=0.3).collect()
    }
    exact = {
        (r.left_id, r.right_id)
        for r in dedup.minhash_lsh_join(
            left, right, threshold=0.3, verify="exact"
        ).collect()
    }
    assert exact, "exact mode found nothing on real documents"
    assert exact <= truth  # precision 1.0 by construction
    assert (est & truth) <= exact  # no true pair lost by rescoring
    n_truth = max(len(truth), 1)
    assert len(exact & truth) / n_truth >= len(est & truth) / n_truth
    est_precision = len(est & truth) / max(len(est), 1)
    assert 1.0 >= est_precision  # exact mode's 1.0 can only be >= this


# --- weighted_sample_topk_grouped (r10 VERDICT next-round #7) ----------


_grouped_weights = st.lists(
    st.tuples(
        st.integers(-2_000_005, 2_000_005),
        st.floats(
            min_value=0.01, max_value=1000.0,
            allow_nan=False, allow_infinity=False,
        ),
        st.sampled_from(["en", "de", "fr"]),
    ),
    min_size=1,
    max_size=24,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@example(rows=[(7, 1.0, "en"), (7 + 1_000_003, 1.0, "en"), (3, 2.0, "de")])
@given(rows=_grouped_weights)
def test_weighted_sample_grouped_equals_global_per_group(spark, rows):
    """Property: the grouped sampler's per-group winners are EXACTLY
    the global algorithm applied to each group in isolation — the
    shared _aes_keyed projection makes any drift a bug, this test
    makes it a red test."""
    docs = spark.createDataFrame(rows, "doc_id long, w double, lang string")
    k = max(1, len(rows) // 3)
    got = {}
    for r in sampling.weighted_sample_topk_grouped(
        docs, "w", k, "lang"
    ).collect():
        got.setdefault(r.lang, set()).add(r.doc_id)
    want = {}
    for g in {t[2] for t in rows}:
        sub = docs.filter(F.col("lang") == g)
        ids = {
            r.doc_id
            for r in sampling.weighted_sample_topk(sub, "w", k).collect()
        }
        if ids:
            want[g] = ids
    assert got == want


def test_weighted_sample_grouped_guards_and_exact_k(spark):
    """NULL/zero/negative weights drop; every group returns min(k,
    group size) rows; k < 1 and empty group_cols raise; reruns are
    identical (no RNG state)."""
    rows = [
        (1, 10.0, "en"), (2, None, "en"), (3, 0.0, "en"), (4, 2.0, "en"),
        (5, 1.0, "en"), (6, -3.0, "de"), (7, 5.0, "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, w double, lang string")
    got = sampling.weighted_sample_topk_grouped(docs, "w", 2, "lang")
    by_group = {}
    for r in got.collect():
        by_group.setdefault(r.lang, set()).add(r.doc_id)
    assert set(by_group["en"]) <= {1, 4, 5} and len(by_group["en"]) == 2
    assert by_group["de"] == {7}  # the only positive-weight de row
    rerun = {
        (r.lang, r.doc_id)
        for r in sampling.weighted_sample_topk_grouped(
            docs, "w", 2, "lang"
        ).collect()
    }
    assert rerun == {(g, d) for g, ids in by_group.items() for d in ids}
    with pytest.raises(ValueError, match="k"):
        sampling.weighted_sample_topk_grouped(docs, "w", 0, "lang")
    with pytest.raises(ValueError, match="group_cols"):
        sampling.weighted_sample_topk_grouped(docs, "w", 2, [])


def test_weighted_sample_grouped_window_limit_plan(spark):
    """The physical plan must carry the WindowGroupLimit pushdown (each
    partition pre-truncates to k rows per group before the final rank)
    — the property that keeps the per-group sampler shuffle-bounded at
    100 TB."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        sampling.weighted_sample_topk_grouped(docs, "n_chars", 10, "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:2000]


def test_ivf_pre_generation_index_back_compat(spark, tmp_path):
    """Indexes saved before generation stamping carry no markers at
    all; load accepts them (both-absent is consistent)."""
    from sales_data_warehouse_spark.sources.compaction import fs_delete

    emb, path = _tiny_index(spark, tmp_path)
    fs_delete(spark, f"{path}/assigned/_generation")
    fs_delete(spark, f"{path}/centers/_generation")
    idx = similarity.load_ivf_index(spark, path)
    assert similarity.ivf_search(idx, emb.limit(2), k=3, nprobe=4).count() == 6


# --- r11 late additions: grouped quality gate + n-gram novelty ---------


def test_quality_select_grouped_equals_global_per_group(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = sampling.quality_select_top_grouped(
        docs, keep_permille=300, group_cols="lang"
    )
    by_group = {
        r.lang: set()
        for r in docs.select("lang").distinct().collect()
    }
    for r in got.collect():
        by_group[r.lang].add((r.doc_id, r.threshold_milli))
    for lang in by_group:
        sub = sampling.quality_select_top(
            docs.filter(F.col("lang") == lang), keep_permille=300
        )
        want = {(r.doc_id, r.threshold_milli) for r in sub.collect()}
        assert by_group[lang] == want, lang
    with pytest.raises(ValueError, match="group_cols"):
        sampling.quality_select_top_grouped(docs, group_cols=[])


def test_quality_select_grouped_keeps_threshold_ties(spark):
    # two groups; group "a" has a tie mass exactly at the cutoff score
    rows = [
        (1, "a", "x " * 50),   # same score
        (2, "a", "x " * 50),   # same score (tie at threshold)
        (3, "a", "x " * 5),
        (4, "a", "x " * 5),
        (5, "b", "y " * 80),
        (6, "b", "y " * 5),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    got = sampling.quality_select_top_grouped(
        docs, keep_permille=300, group_cols="lang"
    )
    ids = {r.doc_id for r in got.collect()}
    # ceil(4*0.3)=2 for group a -> the two tied top docs; ceil(2*0.3)=1
    assert ids == {1, 2, 5}


def test_ngram_novelty_exact(spark):
    from sales_data_warehouse_spark.operators import text as text_ops

    rows = [
        (1, "a b c d"),        # shingles: "a b c","b c d" (dup with doc 2)
        (2, "a b c d"),        # exact duplicate -> novelty 0
        (3, "p q r s"),        # all unique -> novelty 1e6
        (4, "a b c z z2"),     # "a b c" shared(df=3), "b c z","c z z2" unique
        (5, "one two"),        # < 3 tokens -> absent
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_shingles, r.n_unique, r.novelty_ppm)
        for r in text_ops.ngram_novelty(docs).collect()
    }
    assert got == {
        1: (2, 0, 0),
        2: (2, 0, 0),
        3: (2, 2, 1_000_000),
        4: (3, 2, 666_666),
    }


def test_quality_select_grouped_custom_id_and_guards(spark):
    rows = [(1, "a", "x " * 50), (2, "a", "x " * 5), (3, "b", "y " * 9)]
    docs = spark.createDataFrame(
        rows, "my_id bigint, lang string, text string"
    )
    got = sampling.quality_select_top_grouped(
        docs, keep_permille=500, group_cols="lang", id_col="my_id"
    )
    assert {r.my_id for r in got.collect()} == {1, 3}
    # no corpus-to-corpus join: the only join in the plan is the
    # broadcast of the threshold table
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    for fn in (
        sampling.quality_select_top_grouped,
        sampling.quality_select_top,
    ):
        for bad in (0, -5, 1001):
            with pytest.raises(ValueError, match="keep_permille"):
                kw = (
                    {"group_cols": "lang"}
                    if fn is sampling.quality_select_top_grouped
                    else {}
                )
                fn(docs.withColumnRenamed("my_id", "doc_id"),
                   keep_permille=bad, **kw)


def test_ngram_novelty_single_explode_plan(spark):
    from sales_data_warehouse_spark.operators import text as text_ops

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = (
        text_ops.ngram_novelty(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # totals come from the pre-explode array size: exactly ONE
    # Generate (explode) in the whole plan — the shingle build is the
    # dominant linear cost and must not run twice
    assert plan.count("Generate explode") == 1


def test_phrase_match_exact_and_plan(spark):
    from sales_data_warehouse_spark.operators import text as text_ops

    rows = [
        (1, "Table hash table hash join"),   # overlapping-start matches
        (2, "table join hash"),              # both tokens, NOT adjacent
        (3, "the table hash"),               # one match at pos 2
        (4, "table"),                        # shorter than the phrase
        (5, "hash table"),                   # wrong order
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in text_ops.phrase_match(docs, "Table HASH").collect()
    }
    assert got == {1: (2, 1), 3: (1, 2)}
    # three-term phrase
    got3 = {
        r.doc_id: (r.n_matches, r.first_pos)
        for r in text_ops.phrase_match(docs, ["table", "hash", "join"]).collect()
    }
    assert got3 == {1: (1, 3)}
    with pytest.raises(ValueError, match="phrase"):
        text_ops.phrase_match(docs, [])
    # single scan, zero shuffles: no Exchange anywhere in the plan
    plan = (
        text_ops.phrase_match(docs, "table hash")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
