"""Physical-plan audits: the properties that decide whether a query
survives a 100x scale-up. Correctness is covered by the oracle parity
suite; these tests pin the *plan shapes* — pushdown reaching the scan,
column pruning, broadcast on dimension joins, and no accidental
cartesian products."""

from __future__ import annotations

import contextlib
import re

import pytest

from sales_data_warehouse_spark.plans import (
    codegen_stage_count,
    executed_plan as _lib_executed_plan,
    has_nested_loop_join,
    pushed_filters,
    scan_columns,
)
from sales_data_warehouse_spark.queries.corpus import QUERIES
from sales_data_warehouse_spark.session import (
    BROADCAST_SIZE_MARGIN,
    fits_broadcast,
)

SF_DIR = "/root/testdata/sf0.01"


def _size_estimate(df) -> int:
    """The optimizer's size estimate fits_broadcast compares."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)

#: Queries whose plans legitimately contain a cartesian/nested-loop join:
#: explicit dense-cube cross joins, the as-of non-equi join, and the
#: property-oracle entries that crossJoin single-row stat aggregates
#: (1 x 1 — constant cost at any scale).
CARTESIAN_OK = {
    "dense_cube_crossjoin",
    "asof_join_pricelist",
    # NOT ann_bruteforce_topk: the tiled block-GEMM rewrite removed its
    # cross join — the gate now protects that rewrite from regressing.
    "ann_lsh_topk",
    "ann_ivf_topk",
    "dedup_minhash_lsh",
    # same _pair_recall_stats 1x1 precision crossJoin as
    # dedup_minhash_lsh — the corpus-sized work is the bucket join
    "fuzzy_join_minhash",
    "fuzzy_join_minhash_exact",
    "dedup_simhash",
    "date_spine",
    "time_hierarchy",
    # retail queries crossJoin a broadcast 1-row stat aggregate (anchor
    # date / basket count) — 1 x n, constant cost at any scale
    "rfm_segmentation",
    "basket_affinity",
    # r9 blocking diagnostics assemble their ONE output row by
    # crossJoining broadcast single-row aggregates (sizes x docs_ct
    # x matched totals) — 1 x 1 joins, constant cost at any scale;
    # the corpus-sized work all happens in the upstream groupBys
    "blocking_selectivity",
    "bucket_join_selectivity",
    "blocking_recall",
    "ivf_recall_audit",
    # r11 DSIR entries: importance_scores crossJoins the BROADCAST
    # 1-row normalizer frame (s_norm) into the per-doc aggregate —
    # 1 x n against a single-row side, constant cost at any scale;
    # the corpus-sized work is the feature explode + score join.
    # importance_model_persisted is deliberately NOT here: the fit
    # collects s_norm to the driver and scoring uses a literal, so its
    # plan must stay cross-join-free.
    "importance_weights",
    "importance_resample",
    "importance_resample_grouped",
    # r12: the fit-diagnostic report crossJoins the BROADCAST 1-row
    # stats frame (n_raw/n_tgt/v/s_norm) into the vocabulary-sized
    # feature table and the per-doc aggregate — the same 1 x n class
    # as importance_weights; the corpus-sized work is the two-corpus
    # fit upstream.
    "importance_model_report",
    # r12: the global quality selector is a constant-group call into
    # the grouped engine, so its threshold equi-join degenerates (the
    # constant key folds away) into a broadcast nested-loop against
    # the ONE-row threshold table — 1 x n, constant cost at any
    # scale. Real-group callers keep the BroadcastHashJoin; only the
    # degenerate constant-group shape lands here.
    "quality_select_top",
}


def test_filter_reaches_parquet_scan(spark):
    assert pushed_filters(QUERIES["filter_projection"](spark, SF_DIR))


def test_timestamp_bound_filter_pushes_down(spark):
    # pricing_summary's shipdate bound is written as an uncast timestamp
    # comparison precisely so it reaches the scan; a cast-to-date form
    # would silently drop the filter from PushedFilters.
    pushed = pushed_filters(QUERIES["pricing_summary"](spark, SF_DIR))
    assert any("l_shipdate" in f for f in pushed), pushed


def test_projection_prunes_scan_columns(spark):
    scans = scan_columns(QUERIES["filter_projection"](spark, SF_DIR))
    # lineitem has 11 columns; the query needs a handful
    assert scans and all(len(cols) <= 8 for cols in scans), scans


def test_dimension_joins_broadcast(spark):
    df = QUERIES["join_multiway"](spark, SF_DIR)
    plan = _lib_executed_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not has_nested_loop_join(df, finalized=False)


def test_aggregates_are_partial(spark):
    # map-side partial aggregation: two HashAggregate levels around the
    # exchange, so the shuffle carries one row per group per task.
    plan = _lib_executed_plan(QUERIES["pricing_summary"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark):
    df = QUERIES["pricing_summary"](spark, SF_DIR)
    assert codegen_stage_count(df) >= 2


@pytest.mark.parametrize(
    "name", sorted(n for n in QUERIES if n not in CARTESIAN_OK)
)
def test_no_accidental_cartesian(spark, name):
    # static plan only (not finalized): executing all ~50 would be slow
    df = QUERIES[name](spark, SF_DIR)
    assert not has_nested_loop_join(df, finalized=False), (
        f"{name} plans a cartesian/nested-loop join"
    )


def test_exists_subquery_decorrelates_to_semi_join(spark):
    # correlated EXISTS must become a left-semi hash join, not a per-row
    # subquery or a nested loop
    plan = _lib_executed_plan(QUERIES["exists_subquery_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_in_subquery_decorrelates_to_semi_join(spark):
    plan = _lib_executed_plan(QUERIES["in_subquery_big_orders"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_scalar_subquery_is_single_subquery_not_join(spark):
    # the global-average threshold runs once as a scalar subquery
    plan = _lib_executed_plan(QUERIES["scalar_subquery_share"](spark, SF_DIR))
    assert "Subquery" in plan or "subquery" in plan, plan


def test_not_exists_decorrelates_to_anti_join(spark):
    plan = _lib_executed_plan(QUERIES["not_exists_customers"](spark, SF_DIR))
    assert "LeftAnti" in plan, plan


def test_profile_approx_mode_avoids_expand(spark):
    # multi-column exact count-distinct plans through Expand (k-times
    # row blowup); the approx mode must aggregate flat
    from sales_data_warehouse_spark.operators.profile import profile_table

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice"]
    exact = _lib_executed_plan(profile_table(o, cols))
    approx = _lib_executed_plan(profile_table(o, cols, approx_distinct=True))
    assert "Expand" in exact
    assert "Expand" not in approx


def test_decontaminate_broadcasts_benchmark_side(spark):
    # The benchmark shingle set is tiny next to the training corpus by
    # definition; the overlap join must broadcast it so the training
    # side never shuffles.
    plan = _lib_executed_plan(QUERIES["decontaminate_ngrams"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert re.search(
        r"BroadcastHashJoin \[shingle#\d+\], \[shingle#\d+\], Inner, "
        r"BuildRight", final
    ), final[:3000]
    # the broadcast build side is the distinct shingle set itself
    assert re.search(
        r"BroadcastExchange HashedRelationBroadcastMode\(List\(input\[0, "
        r"string[^\n]*\n[^\n]*HashAggregate\(keys=\[shingle#\d+\], "
        r"functions=\[\]",
        final,
    ), final[:3000]


def test_decontaminate_large_route_never_broadcasts(spark):
    # past the broadcast threshold the shingle set is no longer forced
    # into a broadcast (and the planner picks none either); the flagged
    # rows are the same on both routes
    def run():
        df = QUERIES["decontaminate_ngrams"](spark, SF_DIR)
        return sorted(map(tuple, df.collect())), df

    small_rows, _ = run()
    with _broadcast_threshold(spark, "1"):
        large_rows, large = run()
    # after the collect: AQE's final plan and the initial plan
    plan = large._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert large_rows == small_rows


def test_rolling_range_window_single_sort(spark):
    # One window pass: exactly one exchange (partition by user) and its
    # sort feed both the COUNT and SUM frames — a second sort would mean
    # the two window aggregates stopped sharing a frame.
    plan = _lib_executed_plan(QUERIES["rolling_range_avg"](spark, SF_DIR))
    # AQE prints the final plan followed by the initial plan; count only
    # the final section or the assertion double-counts every node.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1, final[:2000]
    assert final.count("Window") == 1, final[:2000]


def test_zscore_stats_broadcast_back(spark):
    # Moments table is |groups| rows — must come back as a broadcast
    # join, not a shuffle of the full event table.
    plan = _lib_executed_plan(QUERIES["zscore_outliers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_funnel_single_scan_of_events(spark):
    # funnel_steps must read events ONCE (single groupBy(user) over
    # per-step time arrays) — the K-1-rescans-with-joins shape it
    # replaced would multiply the 100 TB scan cost by funnel depth.
    plan = _lib_executed_plan(QUERIES["funnel_conversion"](spark, SF_DIR))
    # AQE plan strings render the final AND the initial plan; count
    # scans in the final section only
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1, final


def test_join_multiway_small_route_collapses(spark):
    # r15: at testdata scale the router must pick the broadcast-collapse
    # plan — lineitem scanned once, never shuffled, ONE aggregate
    # exchange (the eager route pays three). A HashAggregate keyed on
    # l_orderkey here means the router silently fell back to eager.
    plan = _lib_executed_plan(QUERIES["join_multiway"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final[:2000]
    assert "HashAggregate(keys=[l_orderkey" not in final, final[:2000]
    assert final.count("Exchange hashpartitioning") == 1, final[:2000]


def test_join_multiway_large_route_eager_aggregation(spark):
    # the 100 TB route (orders/customer over the broadcast threshold)
    # must stay the r14 eager-aggregation shape: revenue pre-aggregates
    # per orderkey BELOW the orders join (and per custkey below the
    # customer join) — the first shuffle after the lineitem scan is an
    # aggregate exchange, not a join of raw fact rows.
    from sales_data_warehouse_spark.queries.corpus import (
        _join_multiway_eager,
    )

    plan = _lib_executed_plan(_join_multiway_eager(spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    # three aggregation levels: per-order, per-cust, per-(region, nation)
    assert final.count("HashAggregate") >= 6, final  # partial+final pairs
    # the lineitem-orders join consumes the per-order aggregate: the
    # plan joins on l_orderkey AFTER an aggregate keyed on it
    assert "HashAggregate(keys=[l_orderkey" in final, final


def test_join_multiway_router_is_scale_safe(spark):
    # the router reads the pruned orders/customer projections through
    # fits_broadcast: at or under the threshold (after the margin) the
    # broadcast route, one byte over it, broadcast disabled (-1), or an
    # unreadable estimate the eager route; the rows never change
    from sales_data_warehouse_spark.queries.corpus import load_table

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, SF_DIR, "customer").select(
        "c_custkey", "c_nationkey"
    )
    edge = max(_size_estimate(o), _size_estimate(c)) * BROADCAST_SIZE_MARGIN

    def route():
        df = QUERIES["join_multiway"](spark, SF_DIR)
        eager = "HashAggregate(keys=[l_orderkey" in _lib_executed_plan(
            df, finalize=False
        )
        return ("eager" if eager else "broadcast"), sorted(
            map(tuple, df.collect())
        )

    got = {}
    for threshold in (str(edge), str(edge - 1), "-1"):
        with _broadcast_threshold(spark, threshold):
            assert fits_broadcast(o, c) == (threshold == str(edge))
            got[threshold] = route()
    assert got[str(edge)][0] == "broadcast"
    assert got[str(edge - 1)][0] == got["-1"][0] == "eager"
    assert got[str(edge)][1] == got[str(edge - 1)][1] == got["-1"][1]


def test_fits_broadcast_fails_to_the_large_plan(spark, monkeypatch):
    # broadcast disabled or any error reading the estimate answers
    # False, which every router maps to its shuffle plan
    df = spark.range(10)
    assert fits_broadcast(df)
    with _broadcast_threshold(spark, "-1"):
        assert not fits_broadcast(df)

    class _NoPlan:
        def queryExecution(self):
            raise RuntimeError("no plan statistics")

    broken = spark.range(10)
    monkeypatch.setattr(broken, "_jdf", _NoPlan())
    assert not fits_broadcast(broken)
    assert not fits_broadcast(df, broken)


def test_join_multiway_routes_on_the_rewritten_table(spark, tmp_path):
    # no stale memo: after orders is rewritten past the threshold the
    # next build routes eager; a byte memo kept from the first build, or
    # a table plan that outlives the rewrite, would keep the broadcast
    # route
    from sales_data_warehouse_spark.queries.corpus import load_table

    sf = str(tmp_path)
    tables = {
        "lineitem": (
            "id % 40 AS l_orderkey",
            "CAST(id AS DECIMAL(12,2)) AS l_extendedprice",
            "CAST(0.05 AS DECIMAL(12,2)) AS l_discount",
        ),
        "customer": ("id AS c_custkey", "id % 5 AS c_nationkey"),
        "nation": (
            "id AS n_nationkey",
            "id % 2 AS n_regionkey",
            "CONCAT('n', id) AS n_name",
        ),
        "region": ("id AS r_regionkey", "CONCAT('r', id) AS r_name"),
    }
    rows = {"lineitem": 200, "customer": 20, "nation": 5, "region": 2}
    for name, cols in tables.items():
        spark.range(rows[name]).selectExpr(*cols).write.parquet(
            f"{sf}/{name}.parquet"
        )

    def write_orders(n):
        spark.range(n).selectExpr(
            "id AS o_orderkey", "id % 20 AS o_custkey"
        ).write.mode("overwrite").parquet(f"{sf}/orders.parquet")

    def route():
        plan = _lib_executed_plan(
            QUERIES["join_multiway"](spark, sf), finalize=False
        )
        return "eager" if "HashAggregate(keys=[l_orderkey" in plan else (
            "broadcast"
        )

    write_orders(40)
    with _broadcast_threshold(spark, str(64 * 1024)):
        assert route() == "broadcast"
        write_orders(100_000)
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey"
        )
        assert _size_estimate(orders) * BROADCAST_SIZE_MARGIN > 64 * 1024
        assert route() == "eager"


def test_size_routed_queries_submit_no_job_to_route(spark):
    # the routers read plan statistics only: building the routed
    # queries (tables already loaded) submits no Spark job
    from sales_data_warehouse_spark.queries.corpus import load_table

    for name in ("lineitem", "part", "orders", "customer", "nation",
                 "region", "documents"):
        load_table(spark, SF_DIR, name)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    sc.setJobGroup("route", "plan build only")
    try:
        for q in ("asof_join_pricelist", "asof_join_forward",
                  "asof_join_nearest", "join_multiway",
                  "decontaminate_ngrams"):
            QUERIES[q](spark, SF_DIR)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("route") == []


def test_composite_key_join_never_broadcasts_the_fact(spark):
    """join_composite_key must plan a ShuffledHashJoin on the composite
    key (exchange-reusable with its own aggregate) — Catalyst's static
    choice without the hint is to BROADCAST the raw fact scan, which at
    10x data builds a 6M-row hash relation on one thread."""
    plan = _lib_executed_plan(QUERIES["join_composite_key"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_line_dedup_broadcasts_hot_set(spark):
    # the boilerplate fingerprint set is small by construction (that is
    # the point of the df threshold); the flag-back join must broadcast
    # it so the exploded line table never shuffles for the join
    plan = _lib_executed_plan(QUERIES["dedup_lines"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_repeated_spans_broadcasts_hot_grams(spark):
    plan = _lib_executed_plan(
        QUERIES["dedup_repeated_spans"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_gopher_filter_is_shuffle_free(spark):
    # the whole rule set is one codegen projection over the scan — any
    # Exchange appearing here means a rule leaked an aggregation/join
    plan = _lib_executed_plan(
        QUERIES["gopher_quality_filter"](spark, SF_DIR)
    )
    assert "Exchange" not in plan, plan[:2000]


def test_repetition_stats_is_shuffle_free(spark):
    # r14 optimization: every repetition signal is per-document, so the
    # whole query is one projection over the scan — the within-doc mode
    # comes from an array_sort + run-length aggregate, not the old
    # explode -> groupBy(doc,tok) -> groupBy(doc) -> join-back (which
    # shuffled every corpus token twice for a per-row scalar). An
    # Exchange or Generate here means the single-scan shape regressed.
    plan = _lib_executed_plan(QUERIES["repetition_quality"](spark, SF_DIR))
    assert "Exchange" not in plan, plan[:2000]
    assert "Generate" not in plan, plan[:2000]


def test_repetition_stats_mode_matches_relational(spark):
    # the run-length fold over the sorted token array must agree with
    # the relational mode (explode + count + max) it replaced
    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.operators.text import (
        repetition_stats,
        tokens,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),          # mode a x3 of 5
            (2, "x x x x"),            # single token repeated
            (3, "all tokens distinct here"),
            (4, ""),                   # split("") -> [""] -> top_cnt 1
            (5, "tie tie break break"),  # two runs of 2
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.top_token_frac
        for r in repetition_stats(docs).collect()
    }
    rel = (
        docs.select(
            "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("t")
        )
        .groupBy("doc_id", "t")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )
    n = docs.select(
        "doc_id", F.size(tokens(F.lower(F.col("text")))).alias("n")
    )
    want = {
        r.doc_id: round(r.top_cnt / r.n, 6)
        for r in rel.join(n, "doc_id").collect()
    }
    assert got == want


def test_classifier_apply_is_shuffle_free(spark):
    # r13: the fitted-classifier apply side is quality_logit's plan —
    # one codegen projection over the scan; an Exchange here means the
    # weights parametrization leaked a join or aggregation
    df = QUERIES["quality_classifier_scores"](spark, SF_DIR)
    plan = _lib_executed_plan(df)
    assert "Exchange" not in plan, plan[:2000]
    # and the scan is pruned to the two columns the features need —
    # documents has 5; reading text+doc_id only is what makes the
    # apply run at parquet-scan speed at 100 TB
    scans = scan_columns(df)
    assert scans and all(
        set(cols) <= {"doc_id", "text"} for cols in scans
    ), scans


def test_ngram_classifier_apply_plan_shape(spark):
    # r14: the n-gram classifier apply must stay the plan it is sold
    # as — the weight table joins BROADCAST (model-sized, never a
    # shuffled join side), the per-doc integer sum partial-aggregates
    # map-side before the one doc-keyed exchange, and every documents
    # scan is pruned to the two columns the features need
    df = QUERIES["quality_ngram_scores"](spark, SF_DIR)
    plan = _lib_executed_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "HashAggregate" in plan and "partial" in plan, plan[:2000]
    assert not has_nested_loop_join(df), plan[:2000]
    scans = scan_columns(df)
    assert scans and all(
        set(cols) <= {"doc_id", "text"} for cols in scans
    ), scans


def test_unigram_surprisal_aggregates_are_partial(spark):
    # vocab counts and per-doc sums must both partial-aggregate
    # map-side; HashAggregate appears in partial+final pairs
    plan = _lib_executed_plan(QUERIES["unigram_surprisal"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4, plan[:2000]


def test_weighted_sample_is_topk_not_global_sort(spark):
    # the A-ES sampler's global top-k must compile to
    # TakeOrderedAndProject (map-side partial top-k per partition,
    # k rows shuffled) — a Sort+Limit regression would serialize the
    # whole corpus through a global sort at 100 TB. The weight filter
    # must also reach the scan.
    df = QUERIES["weighted_sample"](spark, SF_DIR)
    plan = _lib_executed_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Sort [" not in plan.replace("TakeOrdered", ""), plan[:2000]
    assert pushed_filters(df), "n_chars filter must push to the scan"


def test_lookup_join_min_is_partial_aggregate(spark):
    # edit_distance_lookup's per-left best-match reduction must
    # partial-aggregate BEFORE the left_id shuffle (min over a struct
    # can't use HashAggregate — immutable buffer type — so Spark picks
    # SortAggregate; the scale property is the partial_min phase, which
    # shrinks the shuffle to one row per (partition, left_id)), and it
    # must never be a window sort over the whole pair set
    plan = _lib_executed_plan(
        QUERIES["fuzzy_lookup_edit_distance"](spark, SF_DIR)
    )
    assert "partial_min(struct" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]


def test_dedup_fold_delta_plan_is_batch_sized(spark, tmp_path):
    """late r14: the streaming exact-dedup fold's append-only state
    contract, pinned in the plans. (a) delta mode returns ONLY the
    batch's fresh fingerprints — no Union with the prior state in the
    plan, which is what makes the per-fold state write O(batch).
    (b) the fold reads prior state partition-PRUNED to the high-water
    mark (PartitionFilters on batch_id), not filter-after-scan — a
    crashed fold's ahead-of-mark partition never costs IO."""
    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.operators.dedup import (
        incremental_exact_dedup,
    )
    from sales_data_warehouse_spark.streaming.documents import (
        dedup_documents_batch,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}", "en", "u", 6) for i in range(40)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    )
    out = str(tmp_path / "dedup")
    dedup_documents_batch(spark, docs.filter(F.col("doc_id") < 20), 0, out)
    dedup_documents_batch(spark, docs.filter(F.col("doc_id") >= 20), 1, out)

    prior = spark.read.parquet(f"{out}/fingerprints/fp")
    pruned = prior.filter(F.col("batch_id") <= 0).drop("batch_id")
    _, delta = incremental_exact_dedup(docs, pruned, delta=True)
    plan = _lib_executed_plan(delta)
    assert "Union" not in plan, plan[:2000]
    # the prior read prunes at the partition level
    assert "PartitionFilters: [" in plan and "batch_id" in plan.split(
        "PartitionFilters: ["
    )[1].split("]")[0], plan[:2000]
    # default (union) mode keeps the full-state return for batch users
    _, union = incremental_exact_dedup(docs, pruned)
    assert "Union" in _lib_executed_plan(union)


def test_bucketed_fingerprint_state_joins_shuffle_free(spark):
    """The dedup operators' documented 100 TB mitigation, pinned: the
    per-fold membership probe (batch anti-join seen-fingerprints) is
    one shuffle of the BATCH only when the state is persisted
    bucketed-by-fp — the state-side scan reports its bucketing and is
    never exchanged, so per-fold network cost is O(batch) even though
    the state must be read. (The streaming sink keeps plain parquet —
    this environment's in-memory catalog cannot persist a bucket spec
    across sessions; on a deployment with a metastore, write the state
    through sources.bucketed.write_bucketed to claim this plan.)"""
    import shutil

    from pyspark.sql import functions as F

    from sales_data_warehouse_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    table = "fp_bucketed_probe_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(wh.removeprefix("file:") + f"/{table}",
                  ignore_errors=True)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        state = spark.range(10000).select(
            F.md5(F.col("id").cast("string")).alias("fp"),
            F.col("id").alias("canonical_id"),
            F.lit(1).alias("n_copies"),
        )
        write_bucketed(state, table, ["fp"], num_buckets=4)
        seen = read_bucketed(spark, table)
        batch = spark.range(500).select(
            F.md5((F.col("id") + 9000).cast("string")).alias("fp")
        )
        anti = batch.join(seen.select("fp"), "fp", "left_anti")
        # AQE's executed string repeats the plan (final + initial
        # sections) — audit the final section only
        plan = _lib_executed_plan(anti).split("== Initial Plan ==")[0]
        assert plan.count("Exchange") == 1, plan[:2000]
        assert "Bucketed: true" in plan, plan[:2000]
        # the one exchange is the batch side, sized to the bucket count
        assert "hashpartitioning(fp" in plan.split("Exchange")[1], plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
