"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Designed scale-first: every variant avoids the O(n^2) all-pairs comparison.
  * exact:        one hash-groupBy — a single shuffle on the fingerprint.
  * ngram Jaccard: inverted-index self-join on shingles (pairs only where
                   they share >= 1 shingle), then exact Jaccard.
  * MinHash-LSH:  shingle -> k minhashes -> band buckets -> bucket join;
                   candidate pairs per band bucket, verified by signature
                   similarity. Sub-quadratic at 100 TB.
  * SimHash:      64-bit majority hash; candidate pairs from pigeonhole
                   block-combination tables — provably complete for
                   Hamming distance <= max_hamming, verified by bit_count.

Connected components over the resulting near-dup pairs come in two
shapes: min-label propagation (diameter rounds; dense dedup cliques)
and alternating large-star/small-star (O(log^2 n) rounds; huge or
chain-shaped components).

Everything is built-in Spark SQL expressions (xxhash64, explode, groupBy) —
no Python in the loop.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Shared release-safe caching policy (measured trade + rationale in
# operators/caching.py); iterative operators below keep localCheckpoint
# where lineage truncation is the point.
from sales_data_warehouse_spark.operators.caching import (  # noqa: E402
    multi_consumer_cache as _multi_consumer_cache,
    release_cache_with as _release_cache_with,
)
from sales_data_warehouse_spark.session import fits_broadcast  # noqa: E402


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Spread CPU-heavy per-row work across all cores.

    Document corpora often arrive as few large files; a single parquet
    file = a single scan partition, which serializes shingle/hash compute
    onto one task. Hash-repartitioning by id before the heavy projection
    costs one small shuffle and buys full parallelism — at cluster scale
    the same call rebalances skewed file splits.
    """
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism, id_col)


def _lead_grams(toks: DataFrame, n: int, out_col: str) -> DataFrame:
    """Append word n-grams to a (doc, pos, token, ...) frame: the gram
    at pos p spans tokens p..p+n-1 via lead() windows partitioned by
    doc — the key upstream ``_spread`` repartitioned on, so no second
    shuffle. Rows whose gram would run off the document end are
    dropped. The ONE definition of shingling for every consumer
    (exploded_shingles, source_overlap_matrix, repeated_span_mask) —
    edge-case fixes land here once.

    Plan shape note: all whole-stage-codegen relational ops — an array
    transform/element_at formulation runs interpreted and measured ~6x
    slower.
    """
    w = Window.partitionBy("doc").orderBy("pos")
    leads = [F.col("token")] + [
        F.lead("token", j).over(w) for j in range(1, n)
    ]
    return (
        toks.withColumn("_last", leads[-1])
        .withColumn(out_col, F.concat_ws(" ", *leads))
        .filter(F.col("_last").isNotNull())
        .drop("_last")
    )


def exploded_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(doc, shingle) rows: word n-grams over lowercase whitespace tokens.
    NOT deduplicated — callers dedup only when their math needs it."""
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "pos", "token"
        ),
    )
    return _lead_grams(toks, n, "shingle").select("doc", "shingle")


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical texts: fingerprint -> (canonical id, copy count).

    One shuffle on md5(text); at 100 TB the fingerprint groupBy is the
    minimal possible exact-dedup plan (map-side partial agg applies).
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_fingerprints: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    delta: bool = False,
    materialize: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Batch-over-batch exact dedup: admit only documents whose text was
    never seen — in any prior batch (``seen_fingerprints``) or earlier
    in this batch — and return the updated fingerprint state.

    The incremental ingestion pattern for a growing corpus: per batch,
    work is O(batch) for fingerprinting plus one join against the seen
    table keyed on fingerprint; nothing re-reads prior batches. Returns
    ``(fresh, fingerprints)`` where ``fresh`` is the admitted subset of
    ``new_docs`` (one canonical row per new fingerprint, ``min(id)`` —
    same canonical rule as :func:`exact_duplicates`) and
    ``fingerprints`` is the union state to pass to the next batch
    (persist it parquet-side between runs; at 100 TB the state table is
    |distinct texts| fingerprint rows, partitioned by fp prefix, and the
    join is shuffle-on-fp or bucket-colocated — never a scan of the
    corpus itself; persisting the state through
    ``sources.bucketed.write_bucketed(..., ["fp"])`` makes the probe
    anti-join exchange the BATCH side only, the state scan reporting
    its bucketing — plan pinned in
    ``test_plan_quality.test_bucketed_fingerprint_state_joins_shuffle_free``).

    ``seen_fingerprints`` is the previous call's second return value
    (schema: fp STRING, canonical_id, n_copies) or None for the first
    batch.

    ``delta=True`` returns only THIS batch's fresh fingerprint rows as
    the second value instead of the whole union — the state the caller
    APPENDS rather than rewrites. At 100 TB the union form means every
    fold writes the full |distinct texts| state back out (O(state)
    write per batch); the delta form keeps the per-batch write O(batch)
    and lets the state live as an append-only partitioned table (the
    streaming fold's layout since r14 —
    ``streaming.documents.dedup_documents_batch``).

    ``materialize=True`` localCheckpoints the fresh-fingerprint set
    before both return values are built from it. Both returned frames
    embed that set — a caller that ACTIONS both (the streaming fold
    writes admitted AND the state delta) would otherwise run the
    batch aggregation and, far worse, the state-sized anti-join scan
    TWICE per fold; the checkpoint (batch-sized, released by the
    ContextCleaner — the ``incremental_minhash_lsh`` precedent) makes
    it once. Default off: single-action callers (the corpus entries,
    the scale probe) keep the pure lazy plan.
    """
    batch = exact_duplicates(new_docs, text_col, id_col)
    if seen_fingerprints is None:
        fresh_fp = batch
    else:
        fresh_fp = batch.join(
            seen_fingerprints.select("fp"), "fp", "left_anti"
        )
    if materialize:
        fresh_fp = fresh_fp.localCheckpoint()
    if seen_fingerprints is None or delta:
        state = fresh_fp
    else:
        state = seen_fingerprints.unionByName(fresh_fp)
    fresh = new_docs.join(
        fresh_fp.select(
            "fp", F.col("canonical_id").alias(f"__canon_{id_col}")
        ),
        F.md5(F.col(text_col)) == F.col("fp"),
    ).filter(F.col(id_col) == F.col(f"__canon_{id_col}"))
    return fresh.drop("fp", f"__canon_{id_col}"), state


def canonical_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    strip_pattern: str = "[^a-z0-9]+",
) -> DataFrame:
    """Formatting-insensitive exact dedup: texts that agree after
    canonicalization — lowercase, every run of non-alphanumeric
    characters collapsed to one space, outer whitespace trimmed — form
    one duplicate group.

    Catches the near-universal web-corpus case :func:`exact_duplicates`
    misses: re-crawls of the same page differing only in casing,
    whitespace, or punctuation (C4 and RefinedWeb normalize before
    hashing for exactly this reason).

    Physical plan is identical to :func:`exact_duplicates` — ONE
    shuffle on ``md5(canonical)`` with map-side partial aggregation;
    the normalization is a whole-stage-codegen per-row projection, so
    the 100 TB cost matches raw exact dedup. ``n_variants`` counts
    distinct RAW texts inside each group via a distinct-agg on
    ``md5(text)`` (32-byte digests, never full documents, cross the
    shuffle); ``n_variants > 1`` flags formatting-only duplicate
    clusters that raw fingerprinting would have admitted.

    Output: (fp, canonical_id, n_copies, n_variants) with the
    :func:`exact_duplicates` canonical rule ``canonical_id = min(id)``.
    """
    canon = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), strip_pattern, " ")
    )
    return docs.groupBy(F.md5(canon).alias("fp")).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.countDistinct(F.md5(F.col(text_col))).alias("n_variants"),
    )


def shingle_df_profile(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    top: int = 5,
) -> list:
    """Top-``top`` shingle document frequencies — the number every
    ``max_df`` choice should be based on. One groupBy-count over the
    distinct (doc, shingle) table, map-side combinable; the driver pull
    is bounded at ``top`` rows. A shingle with df=k contributes k^2
    rows to the uncapped pair self-joins, so the hottest df here IS the
    quadratic constant :func:`ngram_jaccard_pairs` /
    :func:`containment_pairs` warn about when run uncapped.
    """
    sh = exploded_shingles(docs, text_col, id_col, n).dropDuplicates(
        ["doc", "shingle"]
    )
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("shingle"))
        .limit(top)
        .collect()
    )


class BlockingStats(NamedTuple):
    """One measured row from :func:`blocking_stats` — see there."""

    n_rows: int
    n_docs: int
    n_buckets: int
    max_bucket: int
    candidate_pairs: int
    pairs_per_doc: float


def blocking_stats_df(
    bucketed: DataFrame,
    key_cols: list[str],
    doc_col: str = "doc",
) -> DataFrame:
    """Selectivity of a candidate-generation blocking scheme, measured
    on the ACTUAL corpus — the dedup-family analog of
    ``similarity.ivf_cell_stats``. Every near-dup family here trades
    completeness guarantees for a bucket self-join, and the whole
    bargain rests on the buckets spreading on the caller's data:
    the r8 edit-distance key was recall-lossless AND degenerate
    (every real document landed in ONE bucket), which no unit test on
    synthetic strings caught. This diagnostic turns "is my blocking
    selective on MY corpus?" into one cheap measured row, BEFORE the
    quadratic bucket join runs.

    ``bucketed`` is the scheme's own bucket table — pass the SAME frame
    the operator self-joins (:func:`banded_signatures` with
    ``["band", "bucket"]``, :func:`simhash_block_keys` with
    ``["tbl", "key"]``, :func:`exploded_shingles` with
    ``["shingle"]``) so the numbers describe the real plan, not a
    reconstruction. Returns one row:

    * ``n_rows`` — distinct (doc, bucket) memberships;
    * ``n_docs`` — docs holding >= 1 membership;
    * ``n_buckets`` — distinct bucket keys;
    * ``max_bucket`` — largest bucket's doc count (the skew number:
      that bucket alone contributes C(max_bucket, 2) join rows);
    * ``candidate_pairs`` — sum over buckets of C(size, 2): the EXACT
      pre-verification self-join output size (a pair sharing k buckets
      counts k times — that is the work the join performs before any
      dropDuplicates);
    * ``pairs_per_doc`` — candidate_pairs / n_docs; the number to
      watch at scale: if it grows with corpus size the scheme is
      drifting quadratic and needs a df-cap / more bands / a blocking
      key (compare two corpus sizes to see the trend).

    Plan: dropDuplicates on (doc, buckets), then one groupBy over the
    bucket keys and one distinct-doc count — the deduped membership
    table is cached across the two grains (release-with-result policy,
    `operators/caching.py`) so the caller's bucket table — often a
    full shingle explode — is computed ONCE. Same cost class as a
    count, safe to run on the full corpus. (The membership dedup
    mirrors what the operators themselves do before joining; raw
    shingle repeats inside one doc would otherwise inflate every
    number.) Measured over the shingle index (BENCH_full_r09
    ``new_ops`` row): 0.96 s base, 1.50 s at 10x docs — ratio 1.56.
    """
    deduped = _multi_consumer_cache(
        bucketed.select(doc_col, *key_cols).dropDuplicates(
            [doc_col, *key_cols]
        )
    )
    sizes = deduped.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("sz")
    )
    # n_docs needs a second grain (distinct docs, not bucket sizes);
    # approx_count_distinct would be cheaper but the diagnostic's whole
    # point is exact evidence.
    docs_ct = (
        deduped.select(doc_col)
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    out = sizes.agg(
        # coalesce(0): an EMPTY bucket table must yield an all-zero row,
        # not NULLs that explode downstream NamedTuple arithmetic
        F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.coalesce(F.max("sz"), F.lit(0))
        .cast("bigint")
        .alias("max_bucket"),
        # integer DIV keeps the sum exact long arithmetic (a double sum
        # would round above 2^53 — exactly the corpus sizes where this
        # diagnostic matters most)
        F.coalesce(
            F.sum(F.expr("(cast(sz AS BIGINT) * (sz - 1)) DIV 2")),
            F.lit(0),
        )
        .cast("bigint")
        .alias("candidate_pairs"),
    ).crossJoin(F.broadcast(docs_ct)).select(
        "n_rows",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        "n_buckets",
        "max_bucket",
        "candidate_pairs",
        F.coalesce(
            F.round(
                F.col("candidate_pairs").cast("double") / F.col("n_docs"),
                6,
            ),
            F.lit(0.0),
        ).alias("pairs_per_doc"),
    )
    return _release_cache_with(out, deduped)


def blocking_stats(
    bucketed: DataFrame,
    key_cols: list[str],
    doc_col: str = "doc",
) -> BlockingStats:
    """:func:`blocking_stats_df` collected into a :class:`BlockingStats`
    (one driver row — bounded like every ``.collect()`` in this
    package)."""
    row = blocking_stats_df(bucketed, key_cols, doc_col).collect()[0]
    return BlockingStats(
        n_rows=row["n_rows"],
        n_docs=row["n_docs"],
        n_buckets=row["n_buckets"],
        max_bucket=row["max_bucket"],
        candidate_pairs=row["candidate_pairs"],
        pairs_per_doc=row["pairs_per_doc"],
    )


class BucketJoinStats(NamedTuple):
    """One measured row from :func:`bucket_join_stats` — see there."""

    left_rows: int
    right_rows: int
    n_left_docs: int
    left_buckets: int
    right_buckets: int
    matched_buckets: int
    max_bucket_product: int
    candidate_rows: int
    candidates_per_left_doc: float


def bucket_join_stats_df(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    left_doc: str = "doc_a",
) -> DataFrame:
    """Two-sided counterpart of :func:`blocking_stats_df` for
    probe x index candidate generators (the PassJoin engine of
    :func:`edit_distance_near_pairs` / :func:`edit_distance_join`,
    or any R-S bucket join): the pre-verification join size is
    sum over matching buckets of |left bucket| x |right bucket|,
    not C(n, 2).

    ``on`` pairs the two sides' key columns, e.g.
    ``[("tlen", "len_b"), ("i", "j"), ("sub", "seg")]`` for the
    PassJoin tables (append ``("blk_a", "blk_b")`` when blocked) —
    pass the SAME frames the operator joins so the numbers describe
    the real plan. Membership rows are deliberately NOT deduplicated:
    the PassJoin probe can emit the same substring at several start
    positions and the join pays for every row (pairs dedup AFTER the
    join) — raw-row counts are the honest join size, unlike the
    self-join diagnostic whose operators dedup memberships first.

    One row: per-side membership rows and bucket counts, matched
    buckets, the hottest matched bucket's row product (the skew
    number), ``candidate_rows`` (the EXACT pre-dedup join output),
    and ``candidates_per_left_doc`` — the number to watch: if it
    grows with the right corpus the blocking is degenerating toward
    cross-product.

    Plan: one groupBy per side at bucket grain, an inner join of the
    two (small) bucket-size tables, and single-row aggregates; the
    left side is cached across its two grains (bucket sizes + distinct
    docs, release-with-result policy)."""
    lkeys = [lc for lc, _ in on]
    lf = _multi_consumer_cache(left.select(left_doc, *lkeys))
    lsizes = lf.groupBy(*lkeys).agg(F.count(F.lit(1)).alias("lsz"))
    rsizes = (
        right.select(*[F.col(rc).alias(lc) for lc, rc in on])
        .groupBy(*lkeys)
        .agg(F.count(F.lit(1)).alias("rsz"))
    )
    matched = lsizes.join(rsizes, lkeys).select(
        "lsz", "rsz", (F.col("lsz") * F.col("rsz")).alias("prod")
    )
    # coalesce(0): empty sides must yield zeros, not NULLs (the
    # NamedTuple's int fields feed arithmetic downstream)
    l_tot = lsizes.agg(
        F.coalesce(F.sum("lsz"), F.lit(0))
        .cast("bigint")
        .alias("left_rows"),
        F.count(F.lit(1)).cast("bigint").alias("left_buckets"),
    )
    r_tot = rsizes.agg(
        F.coalesce(F.sum("rsz"), F.lit(0))
        .cast("bigint")
        .alias("right_rows"),
        F.count(F.lit(1)).cast("bigint").alias("right_buckets"),
    )
    docs_ct = (
        lf.select(left_doc)
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_left_docs"))
    )
    m_tot = matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("matched_buckets"),
        F.coalesce(F.max("prod"), F.lit(0))
        .cast("bigint")
        .alias("max_bucket_product"),
        F.coalesce(F.sum("prod"), F.lit(0))
        .cast("bigint")
        .alias("candidate_rows"),
    )
    out = (
        l_tot.crossJoin(F.broadcast(r_tot))
        .crossJoin(F.broadcast(docs_ct))
        .crossJoin(F.broadcast(m_tot))
        .select(
            "left_rows",
            "right_rows",
            "n_left_docs",
            "left_buckets",
            "right_buckets",
            "matched_buckets",
            "max_bucket_product",
            "candidate_rows",
            F.coalesce(
                F.round(
                    F.col("candidate_rows").cast("double")
                    / F.col("n_left_docs"),
                    6,
                ),
                F.lit(0.0),
            ).alias("candidates_per_left_doc"),
        )
    )
    return _release_cache_with(out, lf)


def bucket_join_stats(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    left_doc: str = "doc_a",
) -> BucketJoinStats:
    """:func:`bucket_join_stats_df` collected into a
    :class:`BucketJoinStats` (one driver row)."""
    row = bucket_join_stats_df(left, right, on, left_doc).collect()[0]
    return BucketJoinStats(**row.asDict())


class BlockingRecallStats(NamedTuple):
    """One measured row from :func:`blocking_recall_stats` — see there."""

    truth_pairs: int
    caught_pairs: int
    recall: float


def blocking_recall_stats_df(
    truth_pairs: DataFrame,
    bucketed: DataFrame,
    key_cols: list[str],
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    doc_col: str = "doc",
    null_keys: str = "bucket",
) -> DataFrame:
    """Recall of a candidate-generation blocking scheme against a
    known truth set, measured on the ACTUAL corpus — the quality
    counterpart of :func:`blocking_stats_df` (which measures only the
    COST side). Every lossy blocking config (a df-cap, fewer LSH
    bands, a coarser SimHash block split) trades candidate volume for
    recall, and the recall half of that bargain is corpus-dependent
    too: a df-cap drops exactly the pairs whose only shared shingles
    are hot, and how many such pairs exist is a property of the
    caller's data, not of the scheme.

    ``truth_pairs`` is a (pair_cols) DataFrame of TRUE near-dup pairs
    — at diagnostic scale the exact truth-set twin on a deterministic
    sample (e.g. :func:`sampling.permille_hash` on the id, then the
    uncapped exact operator inside the sample: quadratic only within
    the bounded sample, so the audit stays runnable at 100 TB).
    ``bucketed`` is the scheme's own bucket table over (at least) the
    sampled docs — pass the SAME frame the operator would self-join. A
    truth pair is *caught* when its two docs share >= 1 bucket key.
    Returns one row: ``truth_pairs``, ``caught_pairs``, ``recall``
    (rounded 6; NULL when the truth set is empty — no evidence is not
    perfect recall).

    Invariant worth pinning per family: an UNCAPPED shingle index
    catches every pair with Jaccard > 0 (sharing a shingle is what
    positive Jaccard means), so recall there must be exactly 1.0 —
    deviations mean the bucket table and the truth set were built with
    different normalization, which is itself a bug this diagnostic
    surfaces.

    ``null_keys`` picks the NULL-bucket-key semantics. The default
    ``"bucket"`` follows groupBy semantics (NULL is a bucket, matched
    via eqNullSafe), consistent with how :func:`blocking_stats_df`
    counts the NULL group in ``candidate_pairs`` — the two diagnostics
    then describe the same hypothetical bucket join. ``"reject"``
    mirrors the operators' ACTUAL null-rejecting ``=`` joins instead:
    a pair whose only shared key is NULL is reported missed, because
    the real candidate join would miss it. The two modes differ only
    when the bucket table emits NULL keys (the in-package schemes
    never do — shingles, bands, SimHash blocks, and PassJoin segments
    are all built from non-NULL text); pass ``"reject"`` when auditing
    an external bucket table whose join you don't control.

    Plan: dedup the membership table once, then two equi-joins keyed
    on the pair's doc ids plus the bucket keys (truth-pair-driven —
    never an all-pairs bucket self-join), a distinct at pair grain,
    and one count each side. Cost scales with |truth| x memberships
    per doc, safe wherever the truth set itself was computable.
    """
    if null_keys not in ("bucket", "reject"):
        raise ValueError(
            f"null_keys must be 'bucket' or 'reject', got {null_keys!r}"
        )
    a_col, b_col = pair_cols
    m = _multi_consumer_cache(
        bucketed.select(doc_col, *key_cols).dropDuplicates(
            [doc_col, *key_cols]
        )
    )
    ma = m.select(
        F.col(doc_col).alias("__ra"),
        *[F.col(k).alias(f"__ka_{k}") for k in key_cols],
    )
    mb = m.select(
        F.col(doc_col).alias("__rb"),
        *[F.col(k).alias(f"__kb_{k}") for k in key_cols],
    )
    pairs = truth_pairs.select(a_col, b_col).dropDuplicates(
        [a_col, b_col]
    )
    key_match = F.lit(True)
    for k in key_cols:
        if null_keys == "bucket":
            key_match = key_match & F.col(f"__ka_{k}").eqNullSafe(
                F.col(f"__kb_{k}")
            )
        else:
            key_match = key_match & (
                F.col(f"__ka_{k}") == F.col(f"__kb_{k}")
            )
    caught = (
        pairs.join(ma, F.col(a_col) == F.col("__ra"))
        .join(
            mb,
            (F.col(b_col) == F.col("__rb")) & key_match,
            "left_semi",
        )
        .select(a_col, b_col)
        .dropDuplicates([a_col, b_col])
    )
    n_truth = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("truth_pairs")
    )
    n_caught = caught.agg(
        F.count(F.lit(1)).cast("bigint").alias("caught_pairs")
    )
    out = n_truth.crossJoin(F.broadcast(n_caught)).select(
        "truth_pairs",
        "caught_pairs",
        F.when(
            F.col("truth_pairs") > 0,
            F.round(
                F.col("caught_pairs").cast("double")
                / F.col("truth_pairs"),
                6,
            ),
        ).alias("recall"),
    )
    return _release_cache_with(out, m)


def blocking_recall_stats(
    truth_pairs: DataFrame,
    bucketed: DataFrame,
    key_cols: list[str],
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    doc_col: str = "doc",
    null_keys: str = "bucket",
) -> BlockingRecallStats:
    """:func:`blocking_recall_stats_df` collected into a
    :class:`BlockingRecallStats` (one driver row)."""
    row = blocking_recall_stats_df(
        truth_pairs, bucketed, key_cols, pair_cols, doc_col, null_keys
    ).collect()[0]
    return BlockingRecallStats(**row.asDict())


def _warn_loud(message: str, stacklevel: int = 3) -> None:
    """Shared loud-default contract for quadratic-unless-bounded plan
    shapes: a zero-cost ResourceWarning at plan-BUILD time (never an
    in-line count job that would make the call eager), raised at the
    USER'S line (default stacklevel: user -> operator -> here; wrappers
    like _warn_uncapped pass one more). One implementation so the
    category/stacklevel contract can't drift between operators
    (r8 review)."""
    import warnings

    warnings.warn(message, ResourceWarning, stacklevel=stacklevel)


def _warn_uncapped(op: str) -> None:
    """Loud default for the uncapped pair self-joins (r6 VERDICT #6):
    a zero-cost ResourceWarning at plan-build time, instead of an
    in-line df-count job that would make every call eager and tax the
    headline truth-set twins — the actual profile is one explicit
    :func:`shingle_df_profile` call away."""
    _warn_loud(
        f"{op}: max_df is None — the shingle self-join is QUADRATIC in "
        "the hottest shingle's document frequency (a shingle in k docs "
        "emits k^2 candidate rows; the uncapped config measured 40x "
        "cost at 10x data, BENCH_r05). Pass max_df for any production "
        "corpus (high-df shingles carry no near-dup signal); "
        "dedup.shingle_df_profile(docs) shows the hottest shingles. "
        "Pass warn_uncapped=False to acknowledge a deliberate exact "
        "truth-set run.",
        stacklevel=4,
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.1,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
    warn_uncapped: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by exact Jaccard over word n-gram shingles.

    ``shingles`` (an ``exploded_shingles``-shaped (doc, shingle) table,
    ideally persisted) lets callers running several shingle consumers —
    e.g. exact Jaccard truth plus MinHash candidates in one property
    query — tokenize the corpus once.

    Inverted-index plan: explode distinct shingles, self-join on shingle
    (only co-occurring docs ever meet), count intersections, then
    |A ∩ B| / (|A| + |B| - |A ∩ B|). Common-shingle skew is the scale
    hazard: a stop-phrase shingle present in k documents contributes k^2
    rows to the self-join output regardless of AQE. ``max_df`` is the
    fix — shingles whose document frequency exceeds it are dropped
    before the join, capping any single shingle's contribution at
    max_df^2 rows. Jaccard is then computed over the *capped* shingle
    universe (set sizes recounted post-cap), the standard
    stop-shingle-removal semantics, so the score stays a true Jaccard
    of the compared sets. At 100 TB run with a cap always; high-df
    shingles carry no near-dup signal (they match everything) and are
    exactly the ones that melt the shuffle.
    """
    if max_df is None and warn_uncapped:
        _warn_uncapped("ngram_jaccard_pairs")
    if shingles is None:
        shingles = exploded_shingles(docs, text_col, id_col, n)
    distinct_sh = shingles.dropDuplicates(["doc", "shingle"])
    if max_df is not None:
        # df per shingle is one groupBy on the same key the self-join
        # shuffles on; map-side partial agg keeps it cheap. The semi-join
        # keeps only low-df shingles — sizes below are post-cap.
        keep = (
            distinct_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        distinct_sh = distinct_sh.join(keep, "shingle", "left_semi")
    # The shingle table feeds three consumers (both self-join sides +
    # sizes); without materialization Spark recomputes the whole
    # tokenize/window pipeline for each (alias renames defeat
    # ReusedExchange). The cache is released when the returned
    # DataFrame is garbage-collected (_release_cache_with on the
    # return below) instead of pinning the CacheManager forever.
    distinct_sh = _multi_consumer_cache(distinct_sh)
    sizes = distinct_sh.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    # Self-join carries ONLY (doc, shingle): identical narrow plans on both
    # sides let Spark reuse one shuffle exchange, and the heavy
    # shuffle/agg payload stays 2 columns wide. Set sizes are attached
    # afterwards to the (much smaller) pair table — one row per candidate
    # pair, not one per co-occurring shingle.
    a = distinct_sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = distinct_sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pairs = inter.join(
        sizes.select(
            F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a")
        ),
        "doc_a",
    ).join(
        sizes.select(
            F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b")
        ),
        "doc_b",
    )
    jac = F.col("n_inter") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    )
    return _release_cache_with(
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        distinct_sh,
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    xxhash64(shingle, seed=i). Pass ``shingles`` to reuse a shared
    (doc, shingle) table across consumers.

    Plan shape: explode shingles once, then ONE groupBy(doc) computing all
    ``num_hashes`` MIN aggregates — map-side partial aggregation keeps the
    shuffle at |docs| x num_hashes longs regardless of shingle count, and
    the flat agg stays inside whole-stage codegen (an array-of-transforms
    expression tree this wide would fall out of codegen limits).
    """
    # No shingle dedup needed: MIN is idempotent over duplicates.
    exploded = (
        shingles
        if shingles is not None
        else exploded_shingles(docs, text_col, id_col, n)
    )
    # SQL-string aggregates: one parser call each instead of py4j
    # builder chains (see simhash below for the plan-build economics).
    # The int literal seed keeps the same xxhash64 typing as F.lit(i).
    mins = exploded.groupBy("doc").agg(
        *[
            F.expr(f"min(xxhash64(shingle, {i})) AS h{i}")
            for i in range(num_hashes)
        ]
    )
    sig_sql = "array(" + ", ".join(f"h{i}" for i in range(num_hashes)) + ")"
    return mins.select("doc", F.expr(f"{sig_sql} AS signature"))


def banded_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc, signature, band, bucket) rows — the LSH banding table:
    ``bands`` rows per doc, each bucketing ``num_hashes/bands``
    consecutive signature positions into one xxhash64 bucket key. This
    is both the join key table for :func:`minhash_lsh_pairs` and the
    PERSISTENT STATE of :func:`incremental_minhash_lsh` (parquet it
    partitioned/bucketed by (band, bucket) between batches)."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        docs, text_col, id_col, n, num_hashes, shingles=shingles
    )
    bands_sql = "array(" + ", ".join(
        f"struct({b} AS band, xxhash64(concat_ws(',', "
        + ", ".join(
            f"cast(element_at(signature, {b * rows_per_band + r + 1})"
            " AS string)"
            for r in range(rows_per_band)
        )
        + ")) AS bucket)"
        for b in range(bands)
    ) + ")"
    return sigs.select(
        "doc",
        "signature",
        F.explode(F.expr(bands_sql)).alias("bb"),
    ).select("doc", "signature", "bb.band", "bb.bucket")


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding over MinHash signatures.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows; docs
    colliding in any band bucket become candidates; candidates are scored
    by estimated Jaccard = fraction of matching signature positions.
    The bucket join replaces all-pairs: complexity ~ sum of bucket sizes
    squared, tunable via bands/rows to target a similarity threshold.
    """
    banded = banded_signatures(
        docs, text_col, id_col, n, num_hashes, bands, shingles=shingles
    )
    # Both self-join sides read `banded`; materialize once so the
    # shingle->minhash aggregation (the expensive part) runs once;
    # released with the result (_release_cache_with on the return).
    banded = _multi_consumer_cache(banded)

    a = banded.select(
        F.col("doc").alias("doc_a"),
        F.col("signature").alias("sig_a"),
        "band",
        "bucket",
    )
    b = banded.select(
        F.col("doc").alias("doc_b"),
        F.col("signature").alias("sig_b"),
        "band",
        "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(num_hashes)
    )
    return _release_cache_with(
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard"),
        banded,
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    verify: str = "estimate",
) -> DataFrame:
    """Fuzzy R-S join at Jaccard granularity: all (left, right) row
    pairs whose n-gram shingle sets are near-duplicate by Jaccard —
    the cross-corpus near-dup join (fuzzy decontamination of
    a training corpus against benchmark suites, near-dup linkage
    between two crawls) that :func:`minhash_lsh_pairs`'s self-join
    cannot express and :func:`decontaminate_ngrams`'s exact
    containment misses when the overlap is paraphrased rather than
    verbatim.

    Both sides band independently through the SAME seeded xxhash64
    MinHash (signatures are comparable across relations by
    construction) and candidates come from the (band, bucket)
    equi-join. Scoring is the ``verify`` dial (round 11, r10 VERDICT
    "What's wrong" #1):

    * ``verify='estimate'`` (default): each de-duplicated candidate
      pair is scored by estimated Jaccard = fraction of matching
      signature positions. Cheapest — no second look at the text —
      but precision is bounded by signature granularity (the estimate
      moves in 1/num_hashes steps), so borderline pairs can land on
      the wrong side of the threshold. Returns
      (left_id, right_id, est_jaccard >= threshold).
    * ``verify='exact'``: the (already-bucketed) candidate set is
      rescored by EXACT Jaccard over the n-gram shingle sets (the
      :func:`ngram_jaccard_pairs` kernel), making the precision dial
      continuous: every returned pair truly meets the threshold
      (false positives are impossible, and candidate pairs whose
      estimate dipped below threshold but whose true Jaccard clears
      it are recovered — recall never drops vs the estimate; requires
      ``threshold > 0``, since a zero-overlap bucket collision has no
      exact score to rescore). Costs
      one extra join of the candidate pairs against each side's
      shingle table — linear in candidate-pair shingle volume, never
      |L| x |R|, because the LSH banding already bounded the
      candidate set. Returns (left_id, right_id, jaccard >=
      threshold); the column is named ``jaccard`` (not
      ``est_jaccard``) because it IS the exact value.

    Scale: the bucket join replaces the |L| x |R| cross product with
    sum over matched buckets of |left bucket| x |right bucket| —
    measure it on YOUR corpora with :func:`bucket_join_stats_df` on
    ``[("band", "band"), ("bucket", "bucket")]`` before a big run.
    Each side's signature build is one explode + one map-side-combined
    groupBy, exactly the self-join's cost. In exact mode the candidate
    pass ships ids only (the signatures never enter the bucket
    shuffle). Reference has no fuzzy join (extension; same rationale
    as :func:`edit_distance_join`)."""
    if verify not in ("estimate", "exact"):
        raise ValueError(
            f"verify must be 'estimate' or 'exact', got {verify!r}"
        )
    if verify == "exact" and threshold <= 0:
        # at threshold <= 0 the estimate mode returns EVERY banded
        # candidate (est 0.0 passes), including bucket collisions with
        # zero shared shingles — pairs that have no exact-Jaccard score
        # (0/union) to rescore and would silently vanish through the
        # intersection join, violating the recall guarantee below
        raise ValueError(
            "verify='exact' requires threshold > 0 (a zero-overlap "
            "bucket collision cannot be rescored; use "
            "verify='estimate' to enumerate raw candidates)"
        )
    keep_sigs = verify == "estimate"
    bl = banded_signatures(
        left, left_text, left_id, n, num_hashes, bands
    ).select(
        F.col("doc").alias("left_id"),
        *(
            [F.col("signature").alias("sig_a")] if keep_sigs else []
        ),
        "band",
        "bucket",
    )
    br = banded_signatures(
        right, right_text, right_id, n, num_hashes, bands
    ).select(
        F.col("doc").alias("right_id"),
        *(
            [F.col("signature").alias("sig_b")] if keep_sigs else []
        ),
        "band",
        "bucket",
    )
    cand = (
        bl.join(br, ["band", "bucket"])
        .drop("band", "bucket")
        .dropDuplicates(["left_id", "right_id"])
    )
    if verify == "exact":
        # The shingle work is bounded by the CANDIDATE docs, not the
        # corpora: each side's exploded-shingle table is semi-joined to
        # the candidate ids BEFORE dedup/cache/size-count, so the
        # cached footprint and the size aggregation are O(candidate
        # shingle volume) — on a large corpus with a selective LSH
        # candidate set (the advertised regime), caching the full
        # corpora's shingles would dominate memory and compute for
        # rows no downstream join ever looks at (r11 review).
        cand = _multi_consumer_cache(cand)
        lsh = _multi_consumer_cache(
            exploded_shingles(left, left_text, left_id, n)
            .join(
                cand.select(F.col("left_id").alias("doc")).distinct(),
                "doc",
                "left_semi",
            )
            .dropDuplicates(["doc", "shingle"])
        )
        rsh = _multi_consumer_cache(
            exploded_shingles(right, right_text, right_id, n)
            .join(
                cand.select(F.col("right_id").alias("doc")).distinct(),
                "doc",
                "left_semi",
            )
            .dropDuplicates(["doc", "shingle"])
        )
        lsz = lsh.groupBy("doc").agg(F.count(F.lit(1)).alias("size_a"))
        rsz = rsh.groupBy("doc").agg(F.count(F.lit(1)).alias("size_b"))
        inter = (
            cand.join(
                lsh.select(F.col("doc").alias("left_id"), "shingle"),
                "left_id",
            )
            .join(
                rsh.select(F.col("doc").alias("right_id"), "shingle"),
                ["right_id", "shingle"],
            )
            .groupBy("left_id", "right_id")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        scored = inter.join(
            lsz.select(F.col("doc").alias("left_id"), "size_a"), "left_id"
        ).join(
            rsz.select(F.col("doc").alias("right_id"), "size_b"),
            "right_id",
        )
        jac = F.col("n_inter") / (
            F.col("size_a") + F.col("size_b") - F.col("n_inter")
        )
        out = (
            scored.withColumn("jaccard", F.round(jac, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("left_id", "right_id", "jaccard")
        )
        for cached in (lsh, rsh, cand):
            out = _release_cache_with(out, cached)
        return out
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(num_hashes)
    )
    return (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select("left_id", "right_id", "est_jaccard")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    node_col: str,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Dedup clusters from near-dup pairs: each node labeled with the
    MIN id reachable in its component (the canonical document).

    Iterative min-label propagation — each round is one join + one
    groupBy over (edges, labels); rounds needed = graph diameter, which
    for dedup graphs is tiny (near-dup clusters are dense cliques, not
    chains). ``localCheckpoint`` truncates lineage per round: without it
    the plan doubles every iteration and the driver dies re-optimizing
    it long before the data is a problem. Driver-side looping is the
    honest shape for an iterative fixpoint — each pass is still a fully
    distributed job (this is GraphX/GraphFrames CC without the
    dependency; swap in the large-star/small-star variant if components
    ever span millions of nodes).
    """
    edges = (
        pairs.select(
            F.col(pair_a).alias("src"), F.col(pair_b).alias("dst")
        )
        .union(
            pairs.select(
                F.col(pair_b).alias("src"), F.col(pair_a).alias("dst")
            )
        )
        .dropDuplicates()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(F.col(node_col).alias("node")).withColumn(
        "label", F.col("node")
    ).localCheckpoint()

    for _ in range(max_iter):
        prop = edges.join(
            labels, edges.src == labels.node, "inner"
        ).select(F.col("dst").alias("node"), "label")
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break

    edges.unpersist()
    return labels.select(
        F.col("node").alias(node_col), F.col("label").alias("cluster_id")
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    node_col: str,
    pair_a: str = "doc_a",
    pair_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the variant for graphs whose components are huge or chain-shaped.

    ``connected_components`` (min-label propagation) needs diameter
    rounds and keeps every node's full neighborhood live; the
    star operations instead rewire the graph toward a forest of
    depth-1 stars in O(log^2 n) rounds regardless of shape:

      * large-star: every node attaches its LARGER neighbors to the
        smallest node of its closed neighborhood;
      * small-star: every node attaches its not-larger neighbors
        (itself included) to that minimum.

    Each round is two groupBy/join passes over the edge list — no
    per-node state beyond the edges themselves, so skew is bounded by
    the star roots (AQE splits those), and the edge count never grows
    above the input. Fixpoint = the edge set stops changing; the final
    edges ARE the (node -> component-min) mapping. Isolated nodes are
    added back with their own id as the label, matching
    ``connected_components`` output exactly.
    """
    # Undirected edge list, deduped, self-loops dropped.
    edges = (
        pairs.select(F.col(pair_a).alias("u"), F.col(pair_b).alias("v"))
        .union(
            pairs.select(F.col(pair_b).alias("u"), F.col(pair_a).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint()
    )

    def _sym(e: DataFrame) -> DataFrame:
        # star steps are defined on the UNDIRECTED neighborhood; the
        # rewired output is directed, so re-symmetrize each round.
        return e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).dropDuplicates()

    def large_star(e: DataFrame) -> DataFrame:
        # m(u) = min of closed neighborhood; attach strictly-larger
        # neighbors to it.
        adj = _sym(e)
        m = adj.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("m")
        )
        return (
            adj.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # attach each node's not-larger neighbors (and itself) to the
        # minimum of that down-neighborhood.
        down = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).dropDuplicates()
        m = down.groupBy("u").agg(F.min("v").alias("m"))
        return (
            down.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    prev_sig = None
    converged = False
    for _ in range(max_iter):
        edges = large_star(edges).localCheckpoint()
        edges = small_star(edges).localCheckpoint()
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        if prev_sig == (sig.n, sig.h):
            converged = True
            break
        prev_sig = (sig.n, sig.h)
    if not converged:
        # an unconverged edge set is NOT a star forest: a node could
        # carry several labels and the join below would fan out —
        # silently wrong clusters. Fail loudly instead.
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter"
        )

    labels = edges.select(F.col("u").alias("node"), F.col("v").alias("label"))
    all_nodes = nodes.select(F.col(node_col).alias("node"))
    return (
        all_nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    )


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document over word tokens.

    bit_i(doc) = majority over tokens of bit_i(xxhash64(token)). Computed
    as: explode tokens -> per bit sum(bit) -> majority = 2*sum > count ->
    reassemble. All integer arithmetic, one groupBy per doc — linear and
    shuffle-light. (The 65 aggregates need codegen.maxFields > 130,
    set in session.DEFAULT_CONF, to stay inside whole-stage codegen.)
    """
    # Expressions are SQL strings, not Column-builder chains: the 64
    # vote aggregates plus the 64-term fingerprint reassembly would cost
    # hundreds of py4j round trips PER CALL as builder chains (~1 s of
    # driver-side plan construction — 3x the actual query time at
    # sf0.1); one parser call per expression keeps plan build ~free.
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(F.lower(F.col(text_col)), r"\s+")
        ).alias("token"),
    ).withColumn("h", F.xxhash64("token"))
    votes = [
        F.expr(f"sum(shiftright(h, {i}) & 1L) AS b{i}") for i in range(bits)
    ]
    per_doc = toks.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_toks"), *votes
    )
    # majority: set bit when ones outnumber zeros (2*ones > total)
    fp_sql = " ^ ".join(
        f"shiftleft(cast(b{i} * 2 > n_toks AS LONG), {i})"
        for i in range(bits)
    )
    return per_doc.select("doc", F.expr(f"({fp_sql}) AS simhash"))


def simhash_block_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """(doc, simhash, tbl, key) — the pigeonhole bucket table
    :func:`simhash_near_pairs` self-joins on, public so the join and
    :func:`blocking_stats` measure the SAME keys (a diagnostic that
    rebuilt its own approximation of the scheme could silently drift
    from the plan it claims to describe).

    The 64-bit fingerprint is cut into ``blocks`` contiguous blocks and
    every combination of ``blocks - max_hamming`` blocks becomes one
    bucket table (``tbl``), keyed by that combination's concatenated
    bits: a pair within ``max_hamming`` dirties at most that many
    blocks, so some combination is clean on both sides and the bucket
    join provably sees every qualifying pair."""
    from itertools import combinations

    if not 0 < blocks <= 64 or max_hamming >= blocks:
        raise ValueError("need 0 < blocks <= 64 and max_hamming < blocks")
    bounds = [(64 * i // blocks, 64 * (i + 1) // blocks) for i in range(blocks)]

    def block_val(i: int) -> str:
        lo, hi = bounds[i]
        # bits [lo, hi) of the signed-64 fingerprint, as an unsigned value
        return (
            f"shiftrightunsigned(shiftleft(simhash, {64 - hi}),"
            f" {64 - (hi - lo)})"
        )

    combos = list(combinations(range(blocks), blocks - max_hamming))
    # key = xxhash64 over the combo's block values as raw longs — no
    # string building; a hash collision can only ADD candidates, and
    # every candidate is hamming-verified, so precision is unaffected.
    # One SQL string instead of C(blocks, .) struct-builder chains: same
    # py4j plan-build economics as in simhash above.
    tables = F.expr(
        "array("
        + ", ".join(
            f"struct({t} AS tbl, xxhash64("
            + ", ".join(block_val(i) for i in combo)
            + ") AS key)"
            for t, combo in enumerate(combos)
        )
        + ")"
    )
    return (
        simhash(docs, text_col, id_col)
        .select("doc", "simhash", F.explode(tables).alias("bk"))
        .select("doc", "simhash", "bk.tbl", "bk.key")
    )


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 6,
) -> DataFrame:
    """ALL pairs at Hamming distance <= ``max_hamming`` — complete, not
    best-effort — via pigeonhole block tables (Manku/Jain/Sarma's
    near-duplicate scheme).

    The 64-bit fingerprint is cut into ``blocks`` contiguous blocks and
    every combination of ``blocks - max_hamming`` blocks becomes one
    bucket table (key = that combination's concatenated bits). A pair
    differing in h <= max_hamming bits dirties at most h blocks, leaving
    >= blocks - h clean ones, so some combination matches — the bucket
    join provably sees every qualifying pair; the exact bit_count
    verification then makes the output precise too. A single fixed
    prefix (the naive bucketing) silently loses any pair whose
    differing bit lands in the prefix.

    Scale trade-off: C(blocks, blocks - max_hamming) tables each
    replicate (doc, hash) once — defaults give C(6,3) = 20 tables keyed
    on ~32 bits (uniform fingerprints -> ~n^2/2^32 accidental
    collisions per table). Raising ``blocks`` widens the Hamming
    guarantee reachable at the same key width; verification cost stays
    one bit_count per candidate.
    """
    # Both self-join sides read the bucketed table; materialize once so
    # the 65-aggregate simhash groupBy runs once (alias renames defeat
    # exchange reuse, as elsewhere in this module); released with the
    # result (_release_cache_with on the return).
    bucketed = _multi_consumer_cache(
        simhash_block_keys(docs, text_col, id_col, max_hamming, blocks)
    )
    a = bucketed.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("h_a"),
        "tbl", "key",
    )
    b = bucketed.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("h_b"),
        "tbl", "key",
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return _release_cache_with(
        a.join(b, ["tbl", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"]),
        bucketed,
    )


def source_overlap_matrix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Pairwise cross-source shingle containment — the matrix that shows
    which corpus sources are near-copies of each other (mirror sites,
    re-crawls, dataset overlap) before mixing weights are chosen.

    For each ordered source pair (a, b) with at least one common
    shingle: ``containment = |shingles(a) ∩ shingles(b)| / |shingles(a)|``.

    Plan: distinct (source, shingle) — the shuffle carries the distinct
    shingle vocabulary per source, not the corpus — then a shingle-keyed
    self-join aggregated to source pairs, sizes broadcast back. Output
    rows are |sources|^2 at most, so the operator targets bounded source
    counts (registries, crawls, dataset names), not per-document ids;
    for hot shingles present in every source the join fan-out is
    |sources|^2 per shingle, which is the bounded-by-design case.
    """
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.col(source_col).alias("src"),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias(
            "pos", "token"
        ),
    )
    sh = _lead_grams(toks, n, "shingle").select("src", "shingle").distinct()
    sizes = sh.groupBy("src").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("src").alias("src_a"), "shingle")
    b = sh.select(F.col("src").alias("src_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            F.broadcast(
                sizes.select(
                    F.col("src").alias("src_a"),
                    F.col("n_shingles").alias("n_shingles_a"),
                )
            ),
            "src_a",
        )
        .select(
            "src_a",
            "src_b",
            F.col("n_shingles_a").cast("bigint").alias("n_shingles_a"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(
                F.col("n_common").cast("double") / F.col("n_shingles_a"), 6
            ).alias("containment"),
        )
    )


def ngram_decontaminate(
    train_docs: DataFrame,
    benchmark_docs: DataFrame,
    n: int = 5,
    min_hits: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-gram overlap with an evaluation/benchmark corpus — the standard
    guard against test-set leakage into pre-training data.

    Plan: shingle both corpora (codegen posexplode+lead, see
    ``exploded_shingles``), dedup per doc, then ONE inner join on the
    shingle key with the benchmark side reduced to its distinct shingle
    set — at 100 TB the benchmark set is tiny next to the training
    corpus (millions vs billions of docs), so it is broadcast and the
    training side never shuffles. The broadcast is forced only while
    ``session.fits_broadcast`` says the set fits; past that the join
    is left to the planner. Overlap counts aggregate on
    ``doc`` (map-side partial), and per-doc shingle totals ride along
    via a groupBy on the same exploded child instead of a second scan.

    Returns one row per training doc with >= 1 overlapping shingle:
    (doc, n_shingles, n_overlap, overlap_frac, contaminated).
    """
    # No persist: both consumers (sizes, overlap) read the SAME
    # dropDuplicates child, so its shuffle is computed once and the
    # second consumer reads it via ReuseExchange — same single
    # computation a cache would buy, with nothing corpus-sized pinned in
    # storage for the rest of the session (a persist here leaked across
    # calls and, at 100 TB, would evict hotter state).
    tr = exploded_shingles(train_docs, text_col, id_col, n).dropDuplicates(
        ["doc", "shingle"]
    )
    bench = (
        exploded_shingles(benchmark_docs, text_col, id_col, n)
        .select("shingle")
        .distinct()
    )
    if fits_broadcast(bench):
        bench = F.broadcast(bench)
    sizes = tr.groupBy("doc").agg(F.count(F.lit(1)).alias("n_shingles"))
    overlap = (
        tr.join(bench, "shingle")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        overlap.join(sizes, "doc")
        .select(
            "doc",
            "n_shingles",
            "n_overlap",
            F.round(
                F.col("n_overlap").cast("double") / F.col("n_shingles"), 6
            ).alias("overlap_frac"),
            (F.col("n_overlap") >= min_hits).alias("contaminated"),
        )
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    min_line_chars: int = 10,
) -> DataFrame:
    """Line-level dedup (boilerplate removal): drop every line that
    appears in more than ``max_doc_freq`` distinct documents — the
    CCNet/Dolma pre-training cleanup that strips nav bars, cookie
    banners, and license footers which document-level dedup can't see.

    A line is a removal *candidate* only when its trimmed length is
    >= ``min_line_chars``; shorter lines (blanks, list bullets, code
    braces) are always kept — frequency there measures syntax, not
    boilerplate.

    Plan (scale-first, all codegen): posexplode lines inside the scan
    stage; doc-frequency aggregates on ``md5(line)`` so the shuffle
    carries a 32-char key instead of arbitrarily long line text, with
    (doc, fp) pre-dedup making the count map-side-combinable; hot
    fingerprints (the boilerplate set — tiny next to the corpus, the
    whole point of the threshold) come back via one join that AQE
    broadcasts; documents reassemble with a groupBy on the id — the
    same key the explode partitioned on, so the final agg piggybacks
    the existing partitioning. Nothing is O(n^2), no Python in the
    loop.

    Returns one row per input document: (id, n_lines_kept,
    n_lines_removed, text_clean) — documents whose every line was
    boilerplate survive with ``text_clean = ''``.
    """
    lines = _spread(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    cand = F.length(F.trim(F.col("line"))) >= min_line_chars
    hot = (
        lines.filter(cand)
        .select("doc", F.md5(F.col("line")).alias("fp"))
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .select("fp", F.lit(True).alias("__hot"))
    )
    flagged = lines.join(
        hot, F.md5(F.col("line")) == F.col("fp"), "left"
    ).withColumn("keep", F.col("__hot").isNull() | ~cand)
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("pos"), F.col("line"))
    )  # no otherwise -> null; collect_list drops nulls
    return (
        flagged.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.sum(F.col("keep").cast("bigint")).alias("n_lines_kept"),
            F.sum((~F.col("keep")).cast("bigint")).alias("n_lines_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.line,
                ),
                "\n",
            ).alias("text_clean"),
        )
    )


def incremental_minhash_lsh(
    new_docs: DataFrame,
    state: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.3,
    delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Batch-over-batch near-dup detection: LSH-band the NEW batch only,
    probe it against the persisted band-bucket ``state`` of everything
    seen before, and return ``(pairs, new_state)``.

    ``pairs`` are the near-dup candidates the new batch introduces —
    within-batch collisions plus new-vs-seen collisions — scored by
    estimated Jaccard exactly like :func:`minhash_lsh_pairs`. Running
    batches through this and unioning the per-batch pairs yields the
    IDENTICAL pair set as one full-corpus ``minhash_lsh_pairs`` run
    (signatures don't depend on batching; a colliding pair is found in
    whichever batch its later doc arrives) — property-tested.

    Scale contract: per batch the shingle->signature work is O(batch),
    and the probe joins the batch's ``bands`` rows/doc against state on
    (band, bucket) — persist state parquet bucketed by those keys and
    the join is shuffle-free on the state side; nothing ever re-reads
    or re-hashes prior batches' text. State grows |seen docs| x bands
    rows of 4 longs + the signature array.

    ``state`` is the previous call's second return value (schema of
    :func:`banded_signatures`) or None for the first batch.

    ``delta=True`` returns only THIS batch's banded rows as the second
    value — the O(batch) rows the caller appends to a partitioned
    state instead of rewriting the |seen docs| x bands union per fold
    (same 100 TB write-path rationale as
    :func:`incremental_exact_dedup`'s delta mode). Replay is still
    safe when the batch's own rows are already IN the passed state:
    the probe's self-matches are dropped by the ``doc_a != doc_b``
    filter and duplicates by the (lo, hi) canonical dedup, so the pair
    set is unchanged — property the streaming fold's replay test pins.
    """
    # localCheckpoint, not persist: three consumers (both probe sides +
    # the state union) read the banded batch, and the returned state's
    # lineage must not chain back through every prior batch's plan — a
    # persist here would pin one cached table per batch for the
    # application lifetime (never unpersisted in the designed
    # once-per-batch loop), while the checkpoint blocks are released by
    # the ContextCleaner once the state DataFrame they back is dropped
    # (callers parquet the state between batches anyway, per above).
    banded_new = banded_signatures(
        new_docs, text_col, id_col, n, num_hashes, bands
    ).localCheckpoint()

    probe_side = (
        banded_new
        if state is None
        else banded_new.unionByName(state)
    )
    a = banded_new.select(
        F.col("doc").alias("doc_a"), F.col("signature").alias("sig_a"),
        "band", "bucket",
    )
    b = probe_side.select(
        F.col("doc").alias("doc_b"), F.col("signature").alias("sig_b"),
        "band", "bucket",
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("lo"),
            F.greatest("doc_a", "doc_b").alias("hi"),
            # least/greatest on the struct keyed by doc keeps each
            # signature attached to its id through canonicalization
            F.least(
                F.struct("doc_a", "sig_a"),
                F.struct(F.col("doc_b").alias("doc_a"),
                         F.col("sig_b").alias("sig_a")),
            )["sig_a"].alias("sig_lo"),
            F.greatest(
                F.struct("doc_a", "sig_a"),
                F.struct(F.col("doc_b").alias("doc_a"),
                         F.col("sig_b").alias("sig_a")),
            )["sig_a"].alias("sig_hi"),
        )
        .dropDuplicates(["lo", "hi"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_lo", "sig_hi", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(num_hashes)
    )
    pairs = (
        cand.withColumn("est_jaccard", F.round(est, 4))
        .filter(F.col("est_jaccard") >= threshold)
        .select(
            F.col("lo").alias("doc_a"),
            F.col("hi").alias("doc_b"),
            "est_jaccard",
        )
    )
    if delta:
        return pairs, banded_new
    new_state = (
        banded_new if state is None else state.unionByName(banded_new)
    )
    return pairs, new_state


def repeated_span_mask(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring dedup at k-token granularity (the Lee et al. 2022
    "deduplicating training data" operation, bounded to k-gram spans):
    mask every token covered by a k-token window whose exact sequence
    occurs ``min_count`` or more times in the corpus — killing boiler
    passages, duplicated quotes, and templated spans that document- and
    line-level dedup both miss.

    Plan: tokenize with position once (posexplode in the scan stage);
    k-grams come from lead() windows over the SAME per-doc partitioning
    (no second shuffle); occurrence counts aggregate on md5(gram) so
    the shuffle key is 32 chars however long the span text is; hot
    grams join back (AQE broadcasts the hot set — it is the repeated
    tail, small by construction); covered positions explode each hot
    start into its k offsets and dedup on (doc, pos); reassembly is
    one groupBy(doc). Everything is codegen except nothing — no
    Python, no O(n^2): cost is linear in total tokens times k for the
    coverage explode.

    Masking removes ALL copies of a repeated span (the conservative
    variant; Lee et al. keep one occurrence — at pipeline scale the
    canonical copy is usually re-admitted from the dedup cluster's
    representative instead). Docs shorter than k tokens are untouched.

    Returns (id, n_tokens, n_masked, text_masked) — one row per doc,
    fully-masked docs survive with ``text_masked = ''``.
    """
    toks = _spread(docs, id_col).select(
        F.col(id_col).alias("doc"),
        F.posexplode(F.split(F.col(text_col), r"\s+")).alias(
            "pos", "token"
        ),
    )
    grams = _lead_grams(toks, k, "gram").select(
        "doc", "pos", F.md5("gram").alias("fp")
    )
    hot = (
        grams.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("fp")
    )
    covered = (
        grams.join(hot, "fp", "left_semi")
        .select(
            "doc",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("pos"),
        )
        .dropDuplicates(["doc", "pos"])
        .withColumn("__cov", F.lit(True))
    )
    flagged = toks.join(covered, ["doc", "pos"], "left")
    kept_struct = F.when(
        F.col("__cov").isNull(), F.struct(F.col("pos"), F.col("token"))
    )
    return (
        flagged.groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("__cov").isNotNull().cast("bigint")).alias(
                "n_masked"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.token,
                ),
                " ",
            ).alias("text_masked"),
        )
    )


def keep_best_representative(
    assignments: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "fp",
    score_col: str = "logit_milli",
) -> DataFrame:
    """Pick each duplicate group's QUALITY representative: the member
    with the highest score, ties broken by lowest id — the selection
    policy real pipelines run over dedup clusters instead of
    keep-lowest-id (the best-written copy survives, not the earliest).

    ``assignments`` maps members to groups ((id, group) — a fingerprint
    column, a connected-components cluster id, a SemDeDup cell
    verdict); ``scores`` maps ids to a quality score. One join on the
    id and one grouped ``max_by`` aggregate — map-side combinable, no
    window, so the reduction scales like any groupBy however large the
    groups. NOTE: exact-duplicate groups tie by construction
    (identical text -> identical score) and degrade to keep-lowest-id;
    the policy bites on NEAR-dup groups (normalization fingerprints,
    LSH clusters) where copies genuinely differ.

    Returns (group, n_members, min_id, best_id, best_score).
    """
    j = assignments.select(
        F.col(id_col).alias("__id"), F.col(group_col).alias("__g")
    ).join(
        scores.select(
            F.col(id_col).alias("__id"), F.col(score_col).alias("__s")
        ),
        "__id",
    )
    return j.groupBy(F.col("__g").alias(group_col)).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("__id").alias("min_id"),
        # best by (score desc, id asc) = min over (-score, id): the
        # SCORE is negated (numeric by contract), never the id — a
        # negated string/uuid id would cast to NULL under ANSI-off and
        # silently null every representative
        F.min_by(
            F.col("__id"),
            F.struct((-F.col("__s")).alias("ns"), F.col("__id")),
        ).alias("best_id"),
        F.max("__s").alias(f"best_{score_col}"),
    )


def prefix_filtered_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """Exact Jaccard >= t pairs via AllPairs/PPJoin prefix filtering
    (Bayardo et al. WWW'07; Xiao et al. WWW'08) — same output as
    :func:`ngram_jaccard_pairs`, different physical plan: only shingle
    *prefixes* enter the candidate self-join.

    Order every document's shingles by one global canonical order —
    rarest-first (document frequency asc, shingle asc). If
    J(A,B) >= t, the canonically-smallest shared shingle provably sits
    within the first ``|d| - ceil(t*|d|) + 1`` shingles of BOTH
    documents, so joining prefixes loses no true pair, while the
    suffixes — which hold exactly the high-df stop-phrase shingles
    whose k^2 join fan-out melts the shuffle at 100 TB — never enter
    the join at all. Prefix filtering thus kills hot-key skew as a
    side effect of pruning: the hotter the shingle, the later the
    canonical order places it, the fewer prefixes contain it. A size
    filter (min >= ceil(t*max)) prunes cross-size candidates, then
    candidates verify against the full shingle sets, so the result is
    exact — the threshold only prunes, never approximates.

    ``t = threshold_num / threshold_den`` is taken as a RATIONAL
    end-to-end: prefix length and size bounds use pure integer
    arithmetic (``ceil(a/b)`` as ``(a + b - 1) DIV b`` on bigints)
    because float ``ceil(0.3 * size)`` can land on either side of an
    exact multiple and a one-off-short prefix silently drops true
    pairs; the FINAL threshold is the exact rational test
    ``n_inter * td >= union * tn`` — not a compare against the rounded
    display value, which would admit pairs a hair below t that the
    pruning bounds never promised to surface. Output therefore equals
    :func:`ngram_jaccard_pairs` at the same threshold except for pairs
    whose true Jaccard lies in the half-ulp rounding window just below
    t (requires union sizes beyond ~10^6 shingles; ngram keeps them via
    its round-then-compare, this operator correctly drops them).
    """
    tn, td = threshold_num, threshold_den
    sh = exploded_shingles(docs, text_col, id_col, n).dropDuplicates(
        ["doc", "shingle"]
    )
    # Three consumers (df count, both verify sides); materialize the
    # narrow (doc, shingle) table once; released with the result
    # (_release_cache_with on the return).
    sh = _multi_consumer_cache(sh)
    df_tbl = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy("doc").orderBy("df", "shingle")
    w_doc = Window.partitionBy("doc")
    ranked = (
        sh.join(df_tbl, "shingle")
        .select(
            "doc",
            "shingle",
            F.row_number().over(w_rank).alias("pos"),
            F.count(F.lit(1)).over(w_doc).alias("size"),
        )
    )
    # prefix length = size - ceil(t*size) + 1; ceil(a/b) as
    # (a + b - 1) DIV b in pure bigint arithmetic — no double division
    # anywhere, so the guarantee holds for any size, not just below
    # 2^53/td.
    ceil_t_size = F.expr(
        f"(CAST(size AS BIGINT) * {tn} + {td - 1}) DIV {td}"
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("size") - ceil_t_size.cast("int") + 1
    )
    a = prefix.select(
        F.col("doc").alias("doc_a"), F.col("size").alias("size_a"), "shingle"
    )
    b = prefix.select(
        F.col("doc").alias("doc_b"), F.col("size").alias("size_b"), "shingle"
    )
    size_floor = F.expr(
        f"(CAST(GREATEST(size_a, size_b) AS BIGINT) * {tn} + {td - 1})"
        f" DIV {td}"
    )
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("size_a", "size_b") >= size_floor)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # verify candidates against the FULL sets: exact intersection count
    inter = (
        cand.join(sh.select(F.col("doc").alias("doc_a"), "shingle"), "doc_a")
        .join(
            sh.select(F.col("doc").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    pairs = inter.join(
        sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("size_a")),
        "doc_a",
    ).join(
        sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("size_b")),
        "doc_b",
    )
    jac = F.col("n_inter") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    )
    # Final threshold is the exact rational test
    # n_inter * td >= union * tn — NOT a compare against round(jac, 6),
    # which would admit pairs a hair below t (0.2999996 rounds to 0.3)
    # that the prefix/size pruning never promised to surface.  The
    # rounded jaccard is display-only.
    union_sz = F.col("size_a") + F.col("size_b") - F.col("n_inter")
    return _release_cache_with(
        pairs.filter(F.col("n_inter") * td >= union_sz * tn)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard")),
        sh,
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
    warn_uncapped: bool = True,
) -> DataFrame:
    """Doc pairs by shingle CONTAINMENT (overlap coefficient): pairs
    where ``|A ∩ B| / min(|A|, |B|)`` meets the threshold.

    Jaccard misses the quote/subset shape of duplication — a short
    document wholly embedded in a long one scores
    ``|A| / |B| ≈ 0`` Jaccard but containment 1.0. This is the
    doc-pair twin of :func:`source_overlap_matrix` (which works at
    source granularity) and the standard complement to
    :func:`ngram_jaccard_pairs` in a curation pass.

    The threshold is an exact rational ``num/den`` tested as
    ``n_inter * den >= min(size_a, size_b) * num`` — pure int64
    arithmetic, so the kept set is bit-identical across engines (a
    float compare would flap at the boundary). ``containment`` in the
    output is display-only (rounded to 6).

    Plan: identical inverted-index skeleton to
    :func:`ngram_jaccard_pairs` — distinct (doc, shingle), optional
    ``max_df`` stop-shingle cap (containment is then over the capped
    universe, sizes recounted post-cap), shingle-keyed self-join with
    one reused exchange, sizes joined onto the (far smaller) pair
    table. Same 100 TB posture: run with ``max_df`` on; a shingle in k
    docs contributes k^2 join rows and carries no subset signal.
    Uncapped calls warn by default (``warn_uncapped`` — see
    :func:`_warn_uncapped` / :func:`shingle_df_profile`).
    """
    if max_df is None and warn_uncapped:
        _warn_uncapped("containment_pairs")
    if shingles is None:
        shingles = exploded_shingles(docs, text_col, id_col, n)
    distinct_sh = shingles.dropDuplicates(["doc", "shingle"])
    if max_df is not None:
        keep = (
            distinct_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        distinct_sh = distinct_sh.join(keep, "shingle", "left_semi")
    distinct_sh = _multi_consumer_cache(distinct_sh)
    sizes = distinct_sh.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    a = distinct_sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = distinct_sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pairs = inter.join(
        sizes.select(
            F.col("doc").alias("doc_a"), F.col("n_shingles").alias("size_a")
        ),
        "doc_a",
    ).join(
        sizes.select(
            F.col("doc").alias("doc_b"), F.col("n_shingles").alias("size_b")
        ),
        "doc_b",
    )
    min_sz = F.least(F.col("size_a"), F.col("size_b"))
    return _release_cache_with(
        pairs.filter(
            F.col("n_inter") * F.lit(threshold_den)
            >= min_sz * F.lit(threshold_num)
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.round(F.col("n_inter") / min_sz, 6).alias("containment"),
        ),
        distinct_sh,
    )


def duplicate_ratio_by_group(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group duplication health report: for each group (source,
    crawl, shard), how many of its documents are copies of a text that
    appears more than once in the WHOLE corpus — the first number a
    curation run checks per source before setting mixture weights
    (a mirror-site source shows up here before any near-dup pass).

    Output per group: ``n_docs``, ``n_dup_docs`` (docs whose exact
    text occurs >= 2 times corpus-wide), ``n_distinct_texts`` (within
    the group), and ``dup_permille = 1000 * n_dup_docs DIV n_docs``
    (integer per-mille — exact across engines where a float ratio
    would flap).

    Plan: one md5-fingerprint groupBy for global copy counts
    (map-side combinable), re-join docs->counts co-keyed on the
    fingerprint, then a group-keyed aggregate whose partials combine
    map-side. Two shuffles total, both on keys the data supports; the
    fingerprint table is |distinct texts|, never corpus-sized state.
    """
    fp = F.md5(F.col(text_col))
    tagged = docs.select(
        F.col(group_col).alias("grp"), fp.alias("fp")
    )
    counts = tagged.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return (
        tagged.join(counts, "fp")
        .groupBy(F.col("grp").alias(group_col))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("n_copies") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.count_distinct(F.col("fp")).cast("bigint").alias(
                "n_distinct_texts"
            ),
        )
        .withColumn(
            "dup_permille",
            F.expr("1000 * n_dup_docs DIV n_docs").cast("bigint"),
        )
    )



def _edit_key(text_col: str, prefix_chars: int):
    """Normalized edit-distance key: first ``prefix_chars`` characters
    of the lowercased, whitespace-collapsed text. Bounded length makes
    the per-pair Levenshtein cost a constant, and title/head-line
    collisions are where typo dups live."""
    return F.substring(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
        1,
        prefix_chars,
    )


def _segment_geometry(df: DataFrame, len_col: str, idx_col: str, k: int):
    """Even PassJoin partition of a length-``len_col`` key into ``k``
    contiguous segments: with q = len DIV k and r = len % k, the first
    k-r segments have length q and the last r have length q+1, so
    segment ``idx_col`` (0-based) has

        seglen   = q + (idx >= k - r)
        segstart = 1 + idx*q + max(0, idx - (k - r))   (1-based)

    The scheme is a pure function of (len, idx) — both the index side
    (which cuts its own key) and the probe side (which enumerates
    substrings for a *target* length) must derive identical geometry,
    which is why it lives in one helper. All integer arithmetic,
    JVM-side."""
    q = F.expr(f"{len_col} DIV {k}")
    r = F.expr(f"{len_col} % {k}")
    idx = F.col(idx_col)
    return df.withColumn(
        "seglen",
        (q + F.when(idx >= F.lit(k) - r, 1).otherwise(0)).cast("int"),
    ).withColumn(
        "segstart",
        (
            F.lit(1)
            + idx * q
            + F.greatest(F.lit(0), idx - (F.lit(k) - r))
        ).cast("int"),
    )


def edit_distance_segment_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    prefix_chars: int = 64,
    block_col: str | None = None,
) -> DataFrame:
    """Index side of the PassJoin blocking used by
    :func:`edit_distance_near_pairs`: each document's normalized key is
    cut into ``max_dist + 1`` contiguous segments (even partition, see
    :func:`_segment_geometry`) and exploded to one row per segment.

    Returns (doc, k, klen, seg_idx, seg[, blk]). The join-bucket key is
    ``(klen, seg_idx, seg)`` — exposed as its own function so tests can
    pin that real corpora spread across MANY buckets (the r8 length-band
    key degenerated to a single bucket on the driver's documents table;
    segment text varies wherever the underlying text does)."""
    if max_dist < 0:
        raise ValueError(
            f"edit_distance_segment_keys: max_dist ({max_dist}) must be"
            " >= 0"
        )
    if prefix_chars < 1:
        # same guard as the two operators: prefix_chars=0 would key
        # every document to the empty string, silently degenerating the
        # diagnostic bucket table to ONE bucket
        raise ValueError(
            f"edit_distance_segment_keys: prefix_chars ({prefix_chars})"
            " must be >= 1"
        )
    k_segments = max_dist + 1
    cols = [
        F.col(id_col).alias("doc"),
        _edit_key(text_col, prefix_chars).alias("k"),
    ]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk"))
    keyed = (
        docs.select(*cols)
        .filter(F.col("k").isNotNull())
        .withColumn("klen", F.length("k"))
    )
    return (
        keyed.withColumn(
            "seg_idx",
            F.explode(F.sequence(F.lit(0), F.lit(max_dist))),
        )
        .transform(
            lambda df: _segment_geometry(df, "klen", "seg_idx", k_segments)
        )
        .withColumn("seg", F.expr("substring(k, segstart, seglen)"))
        .drop("seglen", "segstart")
    )


def _edit_probe_substrings(
    src: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int,
    prefix_chars: int,
    block_col: str | None,
) -> DataFrame:
    """Probe side of the PassJoin blocking: for each row, enumerate the
    substrings that could equal a partner's untouched segment — one row
    per (candidate partner length ``tlen``, segment index ``i``, start
    position) with the substring in ``sub``. The position range is the
    POSITION-AWARE window: a matched segment's shift σ = p - segstart
    needs ≥ |σ| edits before it and ≥ |Δ - σ| after it (Δ = own len -
    partner len), so |σ| + |Δ - σ| <= d bounds σ to d+1 positions, not
    the naive ±d's 2d+1. Necessary-condition pruning — shifts outside
    it cannot belong to any <= d alignment, so completeness (the
    hypothesis DP-oracle property) is untouched.

    Returns (doc_a, k_a, tlen, i, sub[, blk_a]) — ``len_a`` exists
    only during window computation and is dropped before the candidate
    shuffle."""
    d = max_dist
    cols = [
        F.col(id_col).alias("doc_a"),
        _edit_key(text_col, prefix_chars).alias("k_a"),
    ]
    if block_col is not None:
        cols.append(F.col(block_col).alias("blk_a"))
    probe = (
        src.select(*cols)
        .filter(F.col("k_a").isNotNull())
        .withColumn("len_a", F.length("k_a"))
        # candidate partner lengths: |len_a - tlen| <= d is the
        # classic length filter, built into the enumeration; the upper
        # bound is additionally clamped to prefix_chars — index keys
        # are truncated there, so no partner can be longer, and for the
        # common all-long-docs corpus (len_a == prefix_chars) the
        # unclamped range would carry d dead tlen values (and their
        # segment/position explosions) through the shuffle per doc
        .withColumn(
            "tlen",
            F.explode(
                F.sequence(
                    F.greatest(F.lit(0), F.col("len_a") - d),
                    F.least(
                        F.col("len_a") + d, F.lit(prefix_chars)
                    ),
                )
            ),
        )
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(d))))
    )
    # geometry of the PARTNER's segment i at length tlen — must equal
    # the index side's cut exactly, hence the shared helper
    probe = _segment_geometry(probe, "tlen", "i", d + 1)
    slack = F.expr(f"({d} - abs(len_a - tlen)) DIV 2")
    delta = F.col("len_a") - F.col("tlen")
    return (
        probe
        # clamp to positions where a full-length substring exists;
        # a zero-length segment matches "" at one (any) position
        .withColumn(
            "lo",
            F.greatest(
                F.lit(1),
                F.col("segstart") + F.least(F.lit(0), delta) - slack,
            ),
        )
        .withColumn(
            "hi",
            F.when(F.col("seglen") == 0, F.col("lo")).otherwise(
                F.least(
                    F.col("len_a") - F.col("seglen") + 1,
                    F.col("segstart")
                    + F.greatest(F.lit(0), delta)
                    + slack,
                )
            ),
        )
        .filter(F.col("hi") >= F.col("lo"))
        .withColumn("p", F.explode(F.sequence("lo", "hi")))
        .withColumn("sub", F.expr("substring(k_a, p, seglen)"))
        # len_a only feeds the window computation above — dropping it
        # here keeps it out of the candidate shuffle
        .drop("seglen", "segstart", "lo", "hi", "p", "len_a")
    )


def _edit_index_side(
    src: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int,
    prefix_chars: int,
    block_col: str | None,
) -> DataFrame:
    """Index side renamed to the column contract
    :func:`_edit_verified_pairs`' join condition depends on —
    (doc_b, k_b, len_b, j, seg[, blk_b]) — in one place so the
    self-join and the R-S join cannot drift apart."""
    return edit_distance_segment_keys(
        src,
        text_col=text_col,
        id_col=id_col,
        max_dist=max_dist,
        prefix_chars=prefix_chars,
        block_col=block_col,
    ).select(
        F.col("doc").alias("doc_b"),
        F.col("k").alias("k_b"),
        F.col("klen").alias("len_b"),
        F.col("seg_idx").alias("j"),
        F.col("seg"),
        *([F.col("blk").alias("blk_b")] if block_col else []),
    )


def _edit_verified_pairs(
    probe: DataFrame,
    index: DataFrame,
    max_dist: int,
    blocked: bool,
    self_join: bool,
) -> DataFrame:
    """Candidate equi-join + de-dup + threshold-Levenshtein verify
    shared by :func:`edit_distance_near_pairs` (``self_join=True``
    adds ``doc_a < doc_b`` INSIDE the join so each unordered pair is
    formed once) and :func:`edit_distance_join`. Returns
    (doc_a, doc_b, dist)."""
    d = max_dist
    cond = (
        (F.col("tlen") == F.col("len_b"))
        & (F.col("i") == F.col("j"))
        & (F.col("sub") == F.col("seg"))
    )
    if self_join:
        cond = cond & (F.col("doc_a") < F.col("doc_b"))
    if blocked:
        cond = cond & (F.col("blk_a") == F.col("blk_b"))
    candidates = (
        probe.join(index, cond)
        .select("doc_a", "doc_b", "k_a", "k_b")
        # one pair can meet in several (segment, position) buckets —
        # de-dup BEFORE the verify so Levenshtein runs once per pair
        .distinct()
    )
    dist = (
        F.levenshtein("k_a", "k_b", d)
        if d > 0
        # d=0: the join already required whole-key equality (the single
        # segment IS the key), and Spark's threshold Levenshtein
        # requires threshold >= 1
        else F.lit(0)
    )
    return (
        candidates.select("doc_a", "doc_b", dist.alias("dist"))
        .filter(F.col("dist") >= 0)
    )


def edit_distance_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 2,
    prefix_chars: int = 64,
    block_col: str | None = None,
    warn_unblocked: bool = True,
) -> DataFrame:
    """Typo-level near-duplicate pairs by Levenshtein distance over a
    normalized key — the fuzzy-match dedup the fingerprint/shingle
    family cannot express (one transposed character changes every
    shingle that covers it, but is edit distance 1).

    Key = the first ``prefix_chars`` characters of the lowercased,
    whitespace-collapsed text (see :func:`_edit_key`). Returns
    (doc_a, doc_b, dist) with ``doc_a < doc_b`` and
    ``dist <= max_dist`` (0 = keys identical).

    Plan — PassJoin segment blocking (Li, Deng & Feng, "PASS-JOIN: a
    partition-based method for similarity joins", PVLDB 5(3), 2011;
    exact-complete for the key):

    * INDEX side: each key is cut into ``max_dist + 1`` contiguous
      segments (:func:`edit_distance_segment_keys`). By pigeonhole, a
      pair within edit distance d leaves at least one of the d+1
      segments of either string untouched, and an untouched segment
      reappears in the other string *exactly*, shifted by at most d
      positions (net insertions/deletions before it).
    * PROBE side: each key enumerates the substrings that could equal
      a partner's untouched segment, within the position-aware window
      (:func:`_edit_probe_substrings` — d+1 start positions per
      segment, derived from |σ| + |Δ - σ| <= d). Join on the equi-key
      ``(tlen = partner klen, seg_idx, substring = segment)`` — a hash
      join whose bucket key VARIES with the text (the r8 length-band
      key collapsed real corpora into one band; segment text does not).
    * Candidates are de-duplicated on the pair (one pair can meet in
      several segments/positions), then verified with Spark's built-in
      threshold Levenshtein (``F.levenshtein(a, b, d)`` early-abandons
      at d+1, JVM-side, no Python anywhere). The |len| <= d length
      filter is built into the probe's tlen range.

    Scale: per document the index side emits d+1 rows and the probe
    side at most (2d+1)(d+1)(d+1) rows (45 at d=2, typically ~half
    that after window clamping) of short keys — a constant-factor,
    LINEAR shuffle; pair formation is confined to buckets of docs
    sharing an exact segment at a compatible length, so candidate
    counts track true near-dup density instead of length-cohort sizes.
    OUTPUT is still inherently quadratic inside a cluster of
    near-identical keys (boilerplate heads, templated titles): pass
    ``block_col`` (source, language, domain) to additionally require
    equality on a natural partition — the standard within-source fuzzy
    pass — and run AFTER exact dedup so identical keys don't inflate
    clusters. Unblocked calls warn by default (``warn_unblocked``,
    same loud contract as the uncapped shingle self-joins). Measured
    (BENCH_full_r09 new_ops row, production shape): ratio 1.7-2.1 at
    10x docs across three same-code runs (base ~0.9-1.0 s) — strongly
    sub-linear every run.

    NULL handling: rows whose key normalizes to NULL (NULL text) are
    excluded; with ``block_col`` set, rows whose block value is NULL
    are ALSO excluded (the equi-join is null-rejecting, matching the
    SQL oracle's ``=``) — a null-source cohort never pairs, even among
    itself (r8 ADVICE; use a COALESCE'd block column upstream if NULL
    cohorts should pair).

    Reference has no fuzzy match (extension; SURVEY §2.8 covers only
    exact string functions). Relation to the ``fuzzy_name_match``
    corpus entry: that query blocks on a NATURAL key (brand) and
    silently misses pairs that differ on it; segment blocking here is
    recall-lossless and needs no key at all — ``block_col`` re-adds
    natural-key blocking only as an explicit, documented recall trade.
    For matching across TWO relations (dirty-key lookup), use
    :func:`edit_distance_join`.
    """
    if max_dist < 0:
        raise ValueError(
            f"edit_distance_near_pairs: max_dist ({max_dist}) must be >= 0"
        )
    if prefix_chars < 1:
        raise ValueError(
            f"edit_distance_near_pairs: prefix_chars ({prefix_chars}) "
            "must be >= 1 — an empty key makes every document a dist-0 "
            "pair of every other"
        )
    if block_col is None and warn_unblocked:
        # same loud-default contract as the uncapped shingle self-joins
        # — candidate generation is linear under segment blocking, but
        # the OUTPUT pair count is quadratic inside any cluster of
        # near-identical keys (boilerplate heads), and real corpora
        # have such clusters.
        _warn_loud(
            "edit_distance_near_pairs: block_col is None — output "
            "pairs form QUADRATICALLY within any cluster of "
            "near-identical keys (boilerplate/templated heads are "
            "such clusters in real corpora). Pass block_col (source, "
            "language, domain) for production corpora, or "
            "warn_unblocked=False to acknowledge a deliberate exact "
            "truth-set run."
        )
    index = _edit_index_side(
        docs, text_col, id_col, max_dist, prefix_chars, block_col
    )
    probe = _edit_probe_substrings(
        docs, text_col, id_col, max_dist, prefix_chars, block_col
    )
    return _edit_verified_pairs(
        probe,
        index,
        max_dist,
        blocked=block_col is not None,
        self_join=True,
    )


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    max_dist: int = 2,
    prefix_chars: int = 64,
    left_block: str | None = None,
    right_block: str | None = None,
    warn_unblocked: bool = True,
) -> DataFrame:
    """Fuzzy R-S join: all (left, right) row pairs whose normalized
    keys (:func:`_edit_key` over the first ``prefix_chars`` chars) are
    within Levenshtein ``max_dist`` — the dirty-key lookup join (typo'd
    titles against a canonical list, OCR'd names against a registry)
    that an exact equi-join silently drops. Returns
    (left_id, right_id, dist) with ``dist <= max_dist``; a left row can
    match many right rows and vice versa — for the one-best-match
    lookup shape use :func:`edit_distance_lookup`, which wraps this
    join with the (dist, right_id) tie-broken top-1-per-left-row.

    Same PassJoin engine as :func:`edit_distance_near_pairs` (segments
    of RIGHT indexed, substrings of LEFT probed — the pigeonhole
    guarantee is direction-independent, so indexing either side is
    complete; right is the natural 'reference list' side), with the
    position-aware probe window and the threshold-Levenshtein verify.
    Pass ``left_block``/``right_block`` TOGETHER to require equality
    on a natural partition (rows with NULL block values are excluded —
    null-rejecting equality, as in the self-join variant).

    Scale: linear candidate shuffle on both sides — (d+1) index rows
    per right row, <= (2d+1)(d+1)^2 probe rows per left row. OUTPUT is
    |true fuzzy matches|: if M left rows and M right rows share one
    templated/boilerplate head, that alone is M x M output pairs —
    the same cluster blow-up as the self-join variant, so unblocked
    calls warn by default (``warn_unblocked``, shared
    :func:`_warn_loud` contract); blocking bounds the clusters.

    Reference has no fuzzy join (extension; its FactTable lookups are
    exact composite-key joins, ``FactTable.sql:31-45``)."""
    if max_dist < 0:
        raise ValueError(
            f"edit_distance_join: max_dist ({max_dist}) must be >= 0"
        )
    if prefix_chars < 1:
        raise ValueError(
            f"edit_distance_join: prefix_chars ({prefix_chars}) must "
            "be >= 1"
        )
    if (left_block is None) != (right_block is None):
        raise ValueError(
            "edit_distance_join: pass left_block and right_block "
            "together (blocking is an equality between the two sides)"
        )
    if left_block is None and warn_unblocked:
        _warn_loud(
            "edit_distance_join: no block columns — output pairs form "
            "QUADRATICALLY across the two sides within any cluster of "
            "near-identical keys (boilerplate/templated heads are such "
            "clusters in real corpora). Pass left_block/right_block "
            "(source, language, domain) for production corpora, or "
            "warn_unblocked=False to acknowledge a deliberate exact "
            "truth-set run."
        )
    index = _edit_index_side(
        right, right_text, right_id, max_dist, prefix_chars, right_block
    )
    probe = _edit_probe_substrings(
        left, left_text, left_id, max_dist, prefix_chars, left_block
    )
    out = _edit_verified_pairs(
        probe,
        index,
        max_dist,
        blocked=left_block is not None,
        self_join=False,
    )
    return out.select(
        F.col("doc_a").alias("left_id"),
        F.col("doc_b").alias("right_id"),
        "dist",
    )


def edit_distance_lookup(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    max_dist: int = 2,
    prefix_chars: int = 64,
    left_block: str | None = None,
    right_block: str | None = None,
    warn_unblocked: bool = True,
    keep_unmatched: bool = False,
) -> DataFrame:
    """Best-match variant of :func:`edit_distance_join` — the lookup
    shape a dirty-key join is almost always consumed in (each typo'd
    title resolved to ONE canonical row, each OCR'd name to ONE
    registry entry): one (left_id, right_id, dist) row per matched
    left row, picking the minimum-distance right match, ties broken by
    the smallest ``right_id`` so the result is deterministic.
    Unmatched left rows are absent by default (inner-lookup
    semantics); ``keep_unmatched=True`` LEFT-joins the best-match
    table back onto the distinct left ids, so every left row comes
    back exactly once — misses with NULL ``right_id``/``dist`` (the
    coverage-report shape: "which titles did the registry NOT
    resolve?"). The extra cost is one broadcast-or-shuffle join
    against the (small) best-match table keyed on left_id.

    Plan: the full fuzzy join, then one groupBy(left_id) taking
    ``min(struct(dist, right_id))`` — struct ordering IS the
    (dist, id) lexicographic tie-break, all JVM-side with a map-side
    partial min, and the post-join shuffle is keyed on left_id (no
    skew beyond the left corpus' own key distribution). The quadratic
    cluster blow-up note on :func:`edit_distance_join` still applies
    to the INTERMEDIATE pair set, so the same ``warn_unblocked``
    contract is inherited — the reduction to one row per left key
    happens after those pairs are formed.

    Reference has no fuzzy lookup (extension; its dimension lookups
    are exact composite-key joins, ``FactTable.sql:31-45``)."""
    pairs = edit_distance_join(
        left,
        right,
        left_text=left_text,
        right_text=right_text,
        left_id=left_id,
        right_id=right_id,
        max_dist=max_dist,
        prefix_chars=prefix_chars,
        left_block=left_block,
        right_block=right_block,
        warn_unblocked=warn_unblocked,
    )
    best = pairs.groupBy("left_id").agg(
        F.min(F.struct("dist", "right_id")).alias("__best")
    )
    matched = best.select(
        "left_id",
        F.col("__best.right_id").alias("right_id"),
        F.col("__best.dist").alias("dist"),
    )
    if not keep_unmatched:
        return matched
    all_left = left.select(
        F.col(left_id).alias("left_id")
    ).dropDuplicates(["left_id"])
    return all_left.join(matched, "left_id", "left")
