"""Positional phrase index: indexed search must return EXACTLY the
scan-side ``phrase_match`` rows (the oracle is the operator twin),
survive a save/load roundtrip, and prune the persisted postings scan
to the phrase terms' hash buckets."""

from __future__ import annotations

import pytest

from sales_data_warehouse_spark.operators.text import (
    build_phrase_index,
    load_phrase_index,
    phrase_match,
    phrase_search_indexed,
    save_phrase_index,
)

PHRASES = ["table hash", "a a", "big order scan", "group slow spark"]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).persist()


@pytest.fixture(scope="module")
def index(docs):
    return build_phrase_index(docs)


@pytest.mark.parametrize("phrase", PHRASES)
def test_indexed_equals_scan(docs, index, phrase):
    want = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match(docs, phrase).collect()
    }
    got = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search_indexed(index, phrase).collect()
    }
    assert got == want and want, phrase


def test_save_load_roundtrip_and_pruning(spark, docs, index, tmp_path):
    path = str(tmp_path / "pidx")
    save_phrase_index(index, path)
    reopened = load_phrase_index(spark, path)
    want = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match(docs, "table hash").collect()
    }
    got_df = phrase_search_indexed(reopened, "table hash")
    got = {
        (r.doc_id, r.n_matches, r.first_pos) for r in got_df.collect()
    }
    assert got == want
    # the persisted scan must carry pbucket PARTITION filters so a
    # k-term phrase reads <= k of the 64 bucket directories — the
    # column merely APPEARING in the scan output is vacuous (a
    # pruning-free plan still lists it), so pin the PartitionFilters
    # clause itself
    import re

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*pbucket", plan), plan[:2000]


def test_empty_phrase_guard(index):
    with pytest.raises(ValueError, match="phrase"):
        phrase_search_indexed(index, [])


def test_save_load_preserves_custom_id_col(spark, tmp_path):
    docs = spark.createDataFrame(
        [(7, "x table hash y")], "my_id bigint, text string"
    )
    idx = build_phrase_index(docs, id_col="my_id")
    path = str(tmp_path / "cid")
    save_phrase_index(idx, path)
    reopened = load_phrase_index(spark, path)
    assert reopened.id_col == "my_id"
    rows = phrase_search_indexed(reopened, "table hash").collect()
    assert [(r.my_id, r.n_matches, r.first_pos) for r in rows] == [(7, 1, 2)]


def test_materialize_builds_once_for_multiterm_search(docs):
    """An UNSAVED index is a lazy plan: a 3-term search re-runs the
    tokenize+groupBy build once per term (3 Generate nodes in the
    executed plan). ``materialize=True`` checkpoints the postings so
    the same search reads the computed table three times instead —
    zero Generates anywhere in the plan — with identical results
    (the r11 VERDICT's unsaved-index k-fold-rebuild trap, removed)."""
    phrase = "big order scan"
    lazy_plan = (
        phrase_search_indexed(build_phrase_index(docs), phrase)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert lazy_plan.count("Generate") >= 3, lazy_plan[:2000]

    mat = build_phrase_index(docs, materialize=True)
    mat_df = phrase_search_indexed(mat, phrase)
    mat_plan = mat_df._jdf.queryExecution().executedPlan().toString()
    assert mat_plan.count("Generate") == 0, mat_plan[:2000]
    want = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match(docs, phrase).collect()
    }
    got = {
        (r.doc_id, r.n_matches, r.first_pos) for r in mat_df.collect()
    }
    assert got == want and want


def test_resave_reopened_index_to_same_path(spark, docs, index, tmp_path):
    """A reopened index's postings are a lazy scan of the destination;
    the staged write must not delete the files its own plan reads
    (the save_importance_model hazard — ADVICE r11)."""
    path = str(tmp_path / "same")
    save_phrase_index(index, path)
    reopened = load_phrase_index(spark, path)
    save_phrase_index(reopened, path)
    again = load_phrase_index(spark, path)
    want = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match(docs, "table hash").collect()
    }
    got = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search_indexed(again, "table hash").collect()
    }
    assert got == want and want


def test_load_recovers_mid_swap_crash(spark, docs, index, tmp_path):
    """A save that crashed between staged_overwrite's two renames
    leaves the index directory missing and ``path.stage_old`` holding
    the intact previous generation — load must recover it, not fail."""
    import os

    path = str(tmp_path / "crash")
    save_phrase_index(index, path)
    os.rename(path, f"{path}.stage_old")
    reopened = load_phrase_index(spark, path)
    want = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_match(docs, "table hash").collect()
    }
    got = {
        (r.doc_id, r.n_matches, r.first_pos)
        for r in phrase_search_indexed(reopened, "table hash").collect()
    }
    assert got == want and want
