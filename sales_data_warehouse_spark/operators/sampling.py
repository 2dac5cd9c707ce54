"""Deterministic corpus sampling and dataset mixing.

Training pipelines need samples that are (a) reproducible across runs
and engines, (b) cheap at 100 TB — no global shuffle, no RNG state.
Both operators here use pure-arithmetic decisions per row, so they are
flat maps (plus, for mixing, one per-source window) and every decision
can be replayed exactly by the SQL oracle:

  * ``stratified_sample`` — per-stratum rates with a Knuth
    multiplicative hash over the id: ``((id % P) * A) % 2^32 % 1000``
    compares against the stratum's permille rate. No randomness, no
    sampleBy RNG, identical output on any engine with 64-bit integer
    math.
  * ``mixture_interleave`` — weighted round-robin over sources (the
    data-mixing loader's schedule): doc i of source s lands at slot
    ``rank_in_source / weight_s``; reading slots in order yields each
    source at its weight's cadence. One window per source partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators.text import TOKEN_SPLIT

#: Knuth's 32-bit multiplicative-hash constant.
HASH_A = 2654435761
#: Ids are first reduced mod this prime so ``(id % P) * A`` stays far
#: below 2^63 — no overflow divergence between engines.
HASH_P = 1000003


def permille_hash(id_col: Column) -> Column:
    """Deterministic pseudo-uniform value in [0, 1000) from an integer
    id — pure BIGINT arithmetic, reproducible in ANSI SQL verbatim.

    ``pmod`` (not ``%``) everywhere: SQL ``%`` keeps the dividend's
    sign, so a negative id (xxhash64-style keys span the full signed-64
    range) would hash negative and pass every ``< rate`` filter —
    sampling such rows at 100% regardless of their stratum's rate. The
    SQL mirror is ``((id % P + P) % P) * A % 2^32 % 1000``."""
    return F.pmod(
        F.pmod(id_col.cast("bigint"), HASH_P) * HASH_A % 4294967296, 1000
    )


def stratified_sample(
    docs: DataFrame,
    stratum: Column,
    rates_permille: dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep each row with its stratum's permille rate, decided by the
    deterministic id hash. Output: input columns + ``stratum``.

    A stratum absent from ``rates_permille`` defaults to 0 (dropped) —
    the conservative reading for an unknown class."""
    rate = F.lit(0)
    for name, pm in rates_permille.items():
        rate = F.when(stratum == name, F.lit(pm)).otherwise(rate)
    return (
        docs.withColumn("stratum", stratum)
        .filter(permille_hash(F.col(id_col)) < rate)
    )


def mixture_interleave(
    docs: DataFrame,
    source: Column,
    weights: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted interleave schedule: (source, doc_id, slot) where
    ``slot = rank_in_source / weight``; consuming rows by ascending slot
    reads each source at a cadence proportional to its weight (the
    standard mixture-sampling schedule, determinized).

    Sources with no listed weight are excluded.

    Scale shape: a plain ``row_number over (partition by source)`` caps
    parallelism at the NUMBER OF SOURCES — a mixture of 3 corpora would
    rank 100 TB on 3 tasks. Instead the rank is computed two-phase,
    per source: range-partition by
    (source, doc_id) so each source's rows are doc_id-ordered across
    partitions, take a per-(partition, source) local row_number (window
    parallelism = partition count), and add the source's exclusive
    running offset of per-partition counts (a broadcast-sized table).
    The resulting rank depends only on the (source, doc_id) ordering —
    NOT on where the range boundaries land — so the output is identical
    to the naive window form at any partitioning."""
    w_expr = F.lit(None).cast("double")
    for name, w in weights.items():
        w_expr = F.when(source == name, F.lit(float(w))).otherwise(w_expr)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        source.alias("source"),
        w_expr.alias("_w"),
    ).filter(F.col("_w").isNotNull())

    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    ranged = base.repartitionByRange(n_parts, "source", "doc_id")
    # Two subtleties, both load-bearing:
    #  * the window partitions by the MATERIALIZED _pid column — the raw
    #    spark_partition_id() expression would re-evaluate after the
    #    window's own exchange and number the wrong partitions;
    #  * `local` feeds two consumers (the offsets aggregate and the
    #    join), and repartitionByRange SAMPLES its boundaries per
    #    execution — without persisting, each branch could see a
    #    different partition assignment and the offsets would not match
    #    the local ranks. The persist pins one assignment for both.
    from pyspark import StorageLevel

    local = (
        ranged.withColumn("_pid", F.spark_partition_id())
        .withColumn(
            "_lrn",
            F.row_number().over(
                Window.partitionBy("_pid", "source").orderBy("doc_id")
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    offsets = (
        local.groupBy("_pid", "source")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_off",
            F.coalesce(
                F.sum("_cnt").over(
                    Window.partitionBy("source")
                    .orderBy("_pid")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .drop("_cnt")
    )
    rn = F.col("_off") + F.col("_lrn")
    return (
        local.join(F.broadcast(offsets), ["_pid", "source"])
        .select(
            "source",
            "doc_id",
            F.round(rn / F.col("_w"), 6).alias("slot"),
        )
    )


def token_budget_select(
    docs: DataFrame,
    budget: int,
    source_col: str = "source",
    text_col: str = "text",
    order_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-source document selection up to a token budget:
    walk each source's documents in ``order_col`` order, keep documents
    while the running token total stays within ``budget`` — the "take N
    tokens per domain" step of mixture construction.

    One window (running sum per source, the partitioning a mixture build
    already has) + one filter; token counts are the whitespace
    tokenizer's, shared with the oracle. A doc that would cross the
    budget is dropped, as are all later docs of that source (contiguous
    prefix semantics, not best-fit packing — selection must not reorder
    the curated sequence).
    """
    from sales_data_warehouse_spark.operators.text import token_count

    w = (
        Window.partitionBy(source_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select(
            source_col,
            order_col,
            token_count(F.col(text_col)).alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )


#: Second multiplicative constant for epoch mixing (2^32 / phi, odd).
HASH_B = 2654435769


def epoch_shuffle(
    docs: DataFrame,
    epoch: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-order shuffle: a reproducible pseudo-random
    permutation of the corpus per epoch, materialized as
    ``(shard, pos_in_shard, shuffle_key, doc_id)``.

    The data-loader contract at 100 TB: every worker must agree on the
    epoch-e order without coordination or stored RNG state, and
    re-running the job must yield the identical order. The key is pure
    BIGINT arithmetic — ``((id % P + P) % P * A + (epoch % P) * B) mod
    2^32`` — so any engine replays it exactly (same discipline as
    ``permille_hash``); changing ``epoch`` re-permutes.

    Scale shape: shard assignment is a flat map (key % n_shards); the
    within-shard position is one window per shard — parallelism equals
    ``n_shards``, which IS the output layout (one training stream per
    shard file), so the sort work is exactly the per-shard ordering the
    loader needs anyway and no global total order is ever built. Ties
    (two ids with equal key) break by id: (key, id) is unique.
    """
    key = F.pmod(
        F.pmod(F.col(id_col).cast("bigint"), HASH_P) * HASH_A
        + F.pmod(F.lit(epoch).cast("bigint"), HASH_P) * HASH_B,
        4294967296,
    )
    base = docs.select(
        F.col(id_col),
        key.alias("shuffle_key"),
    ).withColumn("shard", F.pmod(F.col("shuffle_key"), n_shards))
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return base.select(
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
        "shuffle_key",
        id_col,
    )


def temperature_rates_permille(
    weights: dict[str, float], temperature: float
) -> dict[str, int]:
    """Per-source keep rates (permille) for temperature-scaled mixture
    sampling: rate_s ∝ w_s^(1/T), normalized so the largest source keeps
    everything. T=1 reproduces the raw weights; T→∞ flattens toward
    uniform — the standard knob for up-weighting low-resource sources.

    Computed driver-side in Python floats and rounded to integer
    permille ONCE, so the distributed decision (`permille_hash` <
    rate) is pure BIGINT arithmetic and the same literal rates can be
    embedded verbatim in a SQL oracle."""
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0: {temperature}")
    powered = {s: w ** (1.0 / temperature) for s, w in weights.items()}
    top = max(powered.values())
    return {s: round(1000 * p / top) for s, p in powered.items()}


def temperature_sample(
    docs: DataFrame,
    source_col: str,
    weights: dict[str, float],
    temperature: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-scaled source mixture: keep each source at permille
    rate ∝ weight^(1/T) (largest source kept fully), decided by the
    deterministic id hash — `stratified_sample` with rates derived from
    the temperature schedule. Flat map, no shuffle, replayable."""
    rates = temperature_rates_permille(weights, temperature)
    return stratified_sample(docs, F.col(source_col), rates, id_col)


def leakage_safe_split(
    docs: DataFrame,
    train_permille: int = 900,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup-aware train/test split: every copy of the same text lands
    on the SAME side — the guard against eval leakage that a plain
    per-document hash split cannot give (one duplicate in train, one in
    test = memorization measured as generalization).

    The split key is the DUPLICATE GROUP's canonical id (min doc id per
    md5(text) fingerprint), hashed with the deterministic permille
    hash; documents inherit their group's assignment. Plan: the
    fingerprint groupBy (the minimal exact-dedup aggregate) + one
    join back on the fingerprint — both shuffles key on md5(text), so
    AQE/exchange reuse keeps it at effectively one repartitioning of
    the corpus. For near-dup-safe splits feed
    ``dedup.connected_components`` output in as the canonical mapping
    instead; the hash-assignment contract is identical.

    Output: (doc_id, canonical_id, n_copies, split 'train'|'test').
    """
    from sales_data_warehouse_spark.operators.dedup import exact_duplicates

    groups = exact_duplicates(docs, text_col, id_col)
    assigned = groups.withColumn(
        "split",
        F.when(
            permille_hash(F.col("canonical_id")) < train_permille,
            F.lit("train"),
        ).otherwise(F.lit("test")),
    )
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .join(assigned, "fp")
        .select(id_col, "canonical_id", "n_copies", "split")
    )


def quality_select_top(
    docs: DataFrame,
    keep_permille: int = 300,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict | None = None,
) -> DataFrame:
    """Keep the top ``keep_permille``/1000 of the corpus by quality
    score — the "train on the best 30%" selection step downstream of a
    quality classifier.

    Scale shape: the naive formulation is a global percent_rank — one
    all-rows sort through a single partition, dead at 100 TB. Here the
    cutoff comes from a HISTOGRAM of the integer logit: scores
    aggregate to (score, count) — distinct-score-sized, tiny — a
    cumulative count over the descending histogram finds the highest
    threshold T with at least ``ceil(n * keep/1000)`` docs at or above
    it, and one filter pass keeps ``score >= T``. Two linear passes,
    no row-level sort anywhere.

    Tie semantics (documented contract): every doc scoring exactly T
    is kept, so the selection can overshoot the target by at most the
    tie mass at T — deterministic, partition-independent, and exactly
    reproducible in SQL (no hash tiebreak sampling inside a score
    class).

    One code path: this is :func:`quality_select_top_grouped` with a
    single constant group (r12 — the pure-integer cutoff test
    ``1000·cum ≥ n·keep`` is ceil(n·keep/1000) exactly, so the grouped
    engine's threshold equals the one the r4–r10 driver-side histogram
    walk produced, property-pinned against a test-local mirror of that
    arithmetic). Everything, including the histogram cum-window, now
    runs distributed; nothing corpus-sized or histogram-sized reaches
    the driver.

    Returns the scored rows (``text.quality_logit`` columns) that made
    the cut, plus the threshold as a column for auditability.
    """
    if not 0 < keep_permille <= 1000:
        raise ValueError(
            f"quality_select_top: keep_permille ({keep_permille}) "
            "must be in (0, 1000]"
        )
    # collision-resistant internal carry name (r12 ADVICE: a caller
    # column literally named "_g" was silently overwritten — the fixed
    # output projection hid it, but the collision was invisible)
    const_group = "__qst_const_group"
    if const_group in docs.columns:
        raise ValueError(
            f"quality_select_top: input already has a {const_group!r} "
            "column (reserved internal carry name)"
        )
    return quality_select_top_grouped(
        docs.withColumn(const_group, F.lit(1)),
        keep_permille=keep_permille,
        group_cols=const_group,
        text_col=text_col,
        id_col=id_col,
        weights=weights,
    ).drop(const_group)


def weighted_sample_topk(
    docs: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep ``k``
    rows where a row's inclusion probability is proportional to its
    weight (the A-ES scheme of Efraimidis & Spirakis, "Weighted random
    sampling with a reservoir", Inf. Process. Lett. 97(5), 2006 — each
    row draws a key ``u^(1/w)`` with u pseudo-uniform in (0,1), the k
    largest keys win; the standard one-pass distributed weighted
    sampler). The curation shape this serves: "sample 1M documents for
    annotation, longer/higher-quality docs proportionally more often",
    where ``stratified_sample``'s per-class rates are too coarse and
    a quality SORT would always take the same head.

    Same determinism contract as the rest of this module: u derives
    from the Knuth id hash (``permille_hash`` arithmetic at full 2^32
    grain, +0.5 so u is never 0), so every engine replays the exact
    selection — no RNG state, reruns and the SQL oracle agree row for
    row. Ties (ids congruent mod the hash prime share u; equal (u, w)
    gives an exactly equal key — never a last-ulp near-tie) break by
    smaller id. Rows with NULL or non-positive weight are dropped:
    zero weight means never sampled, and a negative weight has no A-ES
    reading.

    Selection key: maximizing ``u^(1/w)`` is maximizing
    ``ln(u)/w`` (ln u < 0, w > 0 — the transform is monotone), which
    stays in double precision instead of underflowing the power for
    tiny u/w. Plan shape at 100 TB: one projection + global top-k —
    Spark's TakeOrderedAndProject with map-side partial top-k per
    partition, no full sort, no shuffle beyond k rows per partition.
    Returns the winning rows with their ``aes_key`` (auditability;
    drop it downstream).
    """
    if k < 1:
        raise ValueError(f"weighted_sample_topk: k ({k}) must be >= 1")
    return (
        _aes_keyed(docs, weight_col, id_col)
        .orderBy(F.col("aes_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _aes_keyed(
    docs: DataFrame, weight_col: str, id_col: str
) -> DataFrame:
    """Positive-weight rows with their A-ES selection key ``aes_key``
    (= ln(u)/w, u from the Knuth id hash) — the ONE definition of the
    key arithmetic, shared by the global and grouped samplers so their
    selections cannot drift apart (a row wins a grouped sample exactly
    when it would win the global algorithm run on its group alone)."""
    w = F.col(weight_col).cast("double")
    return docs.filter(w.isNotNull() & (w > 0)).withColumn(
        "aes_key", F.log(_knuth_u(id_col)) / w
    )


def _knuth_u(id_col: str) -> Column:
    """Pseudo-uniform u in (0, 1) from an integer id — the
    ``permille_hash`` arithmetic at full 2^32 grain, +0.5 so u is never
    exactly 0 or 1. Pure BIGINT ops; every SQL oracle mirrors it
    verbatim, so selections that key on u replay exactly cross-engine.
    The ONE definition shared by the A-ES samplers and the DSIR
    Gumbel resampler."""
    return (
        F.pmod(
            F.pmod(F.col(id_col).cast("bigint"), HASH_P) * HASH_A,
            F.lit(4294967296),
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)


def _gumbel_key(id_col: str) -> Column:
    """DSIR selection key ``importance_micronats/1e6 - ln(-ln u)`` —
    the ONE definition shared by the global and grouped resamplers
    (the ``_aes_keyed`` rationale: a row's key must be identical in
    both, or the grouped ≡ global-per-group equivalence and the
    verbatim SQL replays silently drift). Expects an
    ``importance_micronats`` column in scope."""
    return F.col("importance_micronats").cast("double") / F.lit(
        1e6
    ) - F.log(-F.log(_knuth_u(id_col)))


def weighted_sample_incremental(
    new_batch: DataFrame,
    reservoir: DataFrame | None,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-over-batch weighted reservoir: fold a new batch into a
    running k-row A-ES sample — the streaming-ingest shape of
    :func:`weighted_sample_topk` (shards landing continuously, "keep a
    weighted 1M-doc annotation sample of everything seen so far"
    without ever rescanning prior batches).

    Correct by the A-ES merge property: the selection key ``ln(u)/w``
    is a pure function of (id, weight) — no RNG state — and top-k by
    key is associative, so ``topk(topk(B1) ∪ B2) = topk(B1 ∪ B2)``
    exactly. The returned reservoir equals :func:`weighted_sample_topk`
    run over the union of every batch so far (the invariant the test
    suite pins), provided rows carry the same (id, weight) whenever
    they reappear.

    ``reservoir`` is the previous call's return value (≤ k rows, with
    their ``aes_key``) or None for the first batch. Per batch the work
    is O(batch) keying plus a top-k over (k + batch) rows —
    TakeOrderedAndProject again, never a rescan of prior data. The
    reservoir is at most k rows: persist it parquet-side between runs
    (or ``localCheckpoint`` inside a loop — iterative state is the one
    place lineage truncation is the point; see ``operators/caching``),
    or the plan chains across batches. ``new_batch`` must carry the
    reservoir's document columns (same schema batch over batch).

    REPLAY-IDEMPOTENT by id: re-presenting a row already in the
    reservoir is a no-op. Rows are deduped per id keeping the
    highest-key copy (deterministic: same id → same u, so only a
    weight change can alter the key) — without this, a re-delivered
    micro-batch would union a reservoir member with itself and the
    duplicate could displace the legitimate k-th row. Consequence for
    duplicate ids WITHIN one logical corpus: id is treated as
    identity (one slot per id), which is what a document reservoir
    wants; the global twin run over a concatenation that repeats ids
    would count copies instead.
    """
    if k < 1:
        raise ValueError(
            f"weighted_sample_incremental: k ({k}) must be >= 1"
        )
    keyed = _aes_keyed(new_batch, weight_col, id_col)
    merged = (
        keyed if reservoir is None else reservoir.unionByName(keyed)
    )
    per_id = Window.partitionBy(id_col).orderBy(F.col("aes_key").desc())
    deduped = (
        merged.withColumn("_rid", F.row_number().over(per_id))
        .filter(F.col("_rid") == 1)
        .drop("_rid")
    )
    return deduped.orderBy(
        F.col("aes_key").desc(), F.col(id_col).asc()
    ).limit(k)


def weighted_sample_topk_grouped(
    docs: DataFrame,
    weight_col: str,
    k: int,
    group_cols: str | list[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group deterministic weighted sampling WITHOUT replacement:
    for each distinct value of ``group_cols``, keep the ``k`` rows
    whose inclusion probability is proportional to their weight — the
    curation ask :func:`weighted_sample_topk` cannot express and
    :func:`stratified_sample` only approximates ("k docs per
    language/source, longer/higher-quality ones proportionally more
    often": stratified gives RATES per stratum, not a weighted exact-k
    draw). Identical A-ES key arithmetic via the shared
    :func:`_aes_keyed` projection, so the per-group result is exactly
    the global algorithm applied to each group in isolation (the
    property the test suite pins), with the same determinism contract:
    no RNG state, reruns and the SQL oracle agree row for row, ties
    break by smaller id.

    Plan shape at 100 TB: one projection + ROW_NUMBER over
    ``Window.partitionBy(group).orderBy(aes_key desc, id)`` ≤ k — one
    shuffle keyed on the group columns, rank truncation inside each
    partition (the QUALIFY shape). Unlike the global sampler there is
    no TakeOrderedAndProject shortcut: top-k PER KEY is a window, and
    Spark's WindowGroupLimit pushes the rank filter below the sort at
    the physical level so each partition keeps only k rows per group
    pre-truncated. Group-size skew is the hazard to watch — a single
    giant group serializes its own sort; salt upstream only if a group
    exceeds executor memory. Returns the winning rows with their
    ``aes_key`` (auditability; drop it downstream — and keep it out of
    hashed comparisons, transcendental last-ulp repr differences are
    spurious mismatches).
    """
    if k < 1:
        raise ValueError(
            f"weighted_sample_topk_grouped: k ({k}) must be >= 1"
        )
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    if not groups:
        raise ValueError("weighted_sample_topk_grouped: group_cols is empty")
    win = Window.partitionBy(*groups).orderBy(
        F.col("aes_key").desc(), F.col(id_col).asc()
    )
    return (
        _aes_keyed(docs, weight_col, id_col)
        .withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _dsir_features(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    num_buckets: int | None,
    bigrams: bool,
) -> DataFrame:
    """One row per feature OCCURRENCE (a bag, not a set): lowercased
    whitespace unigrams, optionally plus word bigrams (the DSIR feature
    space). With ``num_buckets`` the feature is hashed to a bucket id
    (``pmod(xxhash64(feat), B)``) BEFORE any aggregation, so no stage
    ever carries the raw vocabulary. Token arrays are materialized in
    their own projection first — inside transform lambdas Catalyst does
    not CSE the split, see ``text.shingles_from_tokens``'s PERF note;
    bigrams come from the shared ``text.bigrams_from_tokens`` zip_with
    kernel, so the DSIR feature space cannot drift from the surprisal
    family's bigram definition."""
    if num_buckets is not None and num_buckets < 1:
        raise ValueError(
            f"num_buckets ({num_buckets}) must be >= 1 (pmod by 0 is "
            "NULL under non-ANSI semantics — every join key would "
            "silently miss)"
        )
    from sales_data_warehouse_spark.operators.text import (
        bigrams_from_tokens,
    )

    head = [F.col(id_col).alias("doc")] if id_col else []
    base = df.select(
        *head, F.split(F.lower(F.col(text_col)), TOKEN_SPLIT).alias("_w")
    )
    feats = F.col("_w")
    if bigrams:
        feats = F.concat(feats, bigrams_from_tokens("_w"))
    out = base.select(
        *(["doc"] if id_col else []), F.explode(feats).alias("feat")
    )
    if num_buckets is not None:
        out = out.withColumn(
            "feat", F.pmod(F.xxhash64("feat"), F.lit(num_buckets))
        )
    return out


def importance_scores(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    bigrams: bool = False,
) -> DataFrame:
    """DSIR importance weights (Xie, Santurkar, Ma & Liang, "Data
    Selection for Language Models via Importance Resampling", NeurIPS
    2023, arXiv:2302.03169): score every document of the ``raw`` crawl
    by how much more likely its bag of features is under the ``target``
    corpus's unigram(/bigram) distribution than under the raw corpus's
    own — the standard "make the crawl look like Wikipedia" selection
    signal, the hashed-n-gram cousin of the KenLM-perplexity filter
    that needs no model artifact.

    Per feature f with Laplace smoothing over the union vocabulary V:
    ``ln p_tgt(f)/p_raw(f) = ln((ct_f+1)/(cr_f+1)) + ln((Nr+V)/(Nt+V))``
    and a document's log importance weight is the sum over its feature
    occurrences. Both terms are quantized to integer MICRO-NATS
    (``floor(1e6 * ln(...))`` — one transcendental on an exact rational
    of two BIGINT counts, the ``unigram_surprisal`` determinism trick),
    so per-doc sums are BIGINT arithmetic: deterministic under any
    partitioning and replayed exactly by the SQL oracle. A quantization
    step is 1e-6 nats — four orders below any difference the selection
    could act on.

    Returns ``(id_col, n_features, importance_micronats)`` for every
    raw document whose text is non-NULL (n_features counts feature
    OCCURRENCES: the token count in unigram mode, 2·tokens−1 with
    bigrams — each occurrence contributes one normalizer term). Feed it to
    :func:`importance_resample` (sampling ∝ weight — the paper's
    estimator) or threshold it directly (top-quantile selection).

    Scale design: exact mode (``num_buckets=None``) joins occurrences
    to a vocabulary-sized score table — fine while the vocab fits a
    shuffle. At 100 TB use ``num_buckets`` (DSIR's own regime, e.g.
    B=10_000 hashed unigram+bigram): the score table is AT MOST B rows
    and is broadcast, so the whole operator is two scans + map-side
    hash aggregates + one broadcast join + one doc-keyed aggregate —
    no vocabulary shuffle at all. ``bigrams=True`` widens features to
    the paper's unigram+bigram bag (occurrences, not the distinct
    shingles the MinHash family uses)."""
    raw_occ = _dsir_features(raw, text_col, id_col, num_buckets, bigrams)
    scores, norm = _dsir_score_tables(
        raw_occ, target, text_col, num_buckets, bigrams
    )
    if num_buckets is not None:
        scores = F.broadcast(scores)
    per_doc = raw_occ.join(scores, "feat").groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_features"),
        F.sum("s").alias("_ssum"),
    )
    return per_doc.crossJoin(F.broadcast(norm)).select(
        F.col("doc").alias(id_col),
        F.col("n_features").cast("bigint").alias("n_features"),
        (F.col("_ssum") + F.col("n_features") * F.col("s_norm"))
        .cast("bigint")
        .alias("importance_micronats"),
    )


def _dsir_score_tables(
    raw_occ: DataFrame,
    target: DataFrame,
    text_col: str,
    num_buckets: int | None,
    bigrams: bool,
) -> tuple[DataFrame, DataFrame]:
    """The fitted half of DSIR, shared by the inline scorer and
    :func:`fit_importance_model`: the per-feature micro-nat score
    table ``(feat, s)`` over the UNION vocabulary, and the 1-row
    normalizer frame ``(s_norm)``. ``raw_occ`` is the raw side's
    feature-occurrence frame (so the inline path tokenizes raw ONCE
    for both the counts and the per-doc join).

    The score table keeps TARGET-ONLY features (cr coalesced to 0):
    the inline scorer's inner join never reaches them (a raw document
    only contains raw-vocabulary features), but a persisted model
    scores NEW shards, where a target-only feature is precisely the
    strongest positive signal — ``ln((ct+1)/1)`` — and dropping it
    would under-rank exactly the most target-like documents."""
    counts = _dsir_counts(raw_occ, target, text_col, num_buckets, bigrams)
    return _dsir_scores_from(counts), _dsir_norm_from(counts)


def _dsir_counts(
    raw_occ: DataFrame,
    target: DataFrame,
    text_col: str,
    num_buckets: int | None,
    bigrams: bool,
) -> DataFrame:
    """Full-outer per-feature counts ``(feat, cr, ct)`` over the union
    vocabulary — the one expensive frame of a DSIR fit (both corpora
    tokenized and aggregated); everything else derives from it."""
    tgt_occ = _dsir_features(target, text_col, None, num_buckets, bigrams)
    rf = raw_occ.groupBy("feat").agg(F.count(F.lit(1)).alias("cr"))
    tf = tgt_occ.groupBy("feat").agg(F.count(F.lit(1)).alias("ct"))
    return rf.join(tf, "feat", "full_outer")


def _dsir_norm_from(counts: DataFrame) -> DataFrame:
    """1-row ``(s_norm)`` normalizer frame from the counts frame."""
    totals = counts.agg(
        F.sum(F.coalesce(F.col("cr"), F.lit(0))).alias("n_raw"),
        F.sum(F.coalesce(F.col("ct"), F.lit(0))).alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    )
    return totals.select(
        F.floor(
            F.lit(1e6)
            * F.log(
                (F.col("n_raw") + F.col("v")).cast("double")
                / (F.col("n_tgt") + F.col("v")).cast("double")
            )
        ).alias("s_norm")
    )


def _dsir_scores_from(counts: DataFrame) -> DataFrame:
    """Per-feature micro-nat score table ``(feat, s)`` from the counts
    frame."""
    return counts.select(
        "feat",
        F.floor(
            F.lit(1e6)
            * F.log(
                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast(
                    "double"
                )
                / (
                    F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1)
                ).cast("double")
            )
        ).alias("s"),
    )


def importance_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    bigrams: bool = False,
) -> DataFrame:
    """DSIR selection (arXiv:2302.03169 §2): draw ``k`` raw documents
    WITHOUT replacement with probability proportional to their
    importance weight ``p_tgt/p_raw`` — resampling, which the paper
    shows beats top-k thresholding (heavy selection bias toward one
    mode of the target). Weights live in log space as
    :func:`importance_scores` micro-nats, so the Gumbel-top-k trick
    replaces A-ES's ``ln(u)/w`` (whose w = exp(hundreds of nats) would
    overflow): maximizing ``u^(1/w)`` is maximizing
    ``ln w - ln(-ln u)``, the exponential-clock form that never leaves
    double range. Same determinism contract as the A-ES family — u
    from the shared Knuth id hash (:func:`_knuth_u`), no RNG state,
    ties break by smaller id, the SQL oracle replays the exact
    selection.

    Plan shape: the scored frame + one projection + global top-k
    (TakeOrderedAndProject — k rows per partition, no full sort), then
    the ≤ k winners broadcast-join back to ``raw``, so the output
    carries every raw column plus ``(n_features,
    importance_micronats)``.
    The Gumbel key itself stays OUT of the output: a last-ulp
    transcendental repr difference would be a spurious hash mismatch
    even when the selection agrees."""
    if k < 1:
        raise ValueError(f"importance_resample: k ({k}) must be >= 1")
    scored = importance_scores(
        raw, target, text_col, id_col, num_buckets, bigrams
    )
    winners = (
        scored.withColumn("_gumbel", _gumbel_key(id_col))
        .orderBy(F.col("_gumbel").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "n_features", "importance_micronats")
    )
    return raw.join(F.broadcast(winners), id_col)


class ImportanceModel:
    """A fitted DSIR scorer: the per-feature micro-nat score table, the
    integer normalizer, and the feature-space config it was fit with
    (so scoring can never silently use a different tokenization than
    the fit). Fit once on the big corpora, persist, then score any
    number of new shards without touching the target corpus again —
    the same build/search economics as ``text.TextIndex`` and
    ``similarity.IvfIndex``."""

    def __init__(
        self,
        scores: DataFrame,
        s_norm: int,
        num_buckets: int | None,
        bigrams: bool,
    ) -> None:
        self.scores = scores
        self.s_norm = int(s_norm)
        self.num_buckets = num_buckets
        self.bigrams = bool(bigrams)


def fit_importance_model(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    num_buckets: int | None = None,
    bigrams: bool = False,
) -> ImportanceModel:
    """Fit the DSIR score table once (arXiv:2302.03169 — the paper's
    workflow IS fit-then-apply: distributions are estimated on the
    corpora once, then every candidate document is scored against the
    frozen estimate). Equivalent to :func:`importance_scores`'s inline
    arithmetic by construction — both run :func:`_dsir_score_tables` —
    so a model fit on ``raw`` and applied to ``raw`` reproduces the
    inline scores exactly (the parity the test suite and corpus entry
    pin).

    The per-feature COUNTS frame is ``localCheckpoint``-ed before
    anything reads it: the normalizer collect must run the full
    two-corpus tokenize + aggregate anyway, and without materializing
    the counts, the very next ``save_importance_model`` (or first
    score) would re-run that whole fit from scratch — "fit once"
    executed twice. The checkpoint is vocabulary-sized (≤
    ``num_buckets`` rows in hashed mode) and lives until the session
    ends; once saved and reopened the model is a plain parquet scan
    and this in-memory copy can be discarded."""
    raw_occ = _dsir_features(raw, text_col, None, num_buckets, bigrams)
    counts = _dsir_counts(
        raw_occ, target, text_col, num_buckets, bigrams
    ).localCheckpoint()
    # empty-fit guard (r13, the importance_model_report rule applied
    # to the fit itself): zero features means both corpora were empty
    # or all-NULL text — the normalizer below would collect a NULL
    # s_norm and every later score_with_model call would fail with a
    # cryptic arithmetic error far from the cause. The checkpoint
    # already materialized counts, so this probe is metadata-cheap.
    if counts.isEmpty():
        raise ValueError(
            "fit_importance_model: empty fit — both corpora produced "
            "zero features (empty or all-NULL text)"
        )
    s_norm = _dsir_norm_from(counts).collect()[0]["s_norm"]
    return ImportanceModel(
        _dsir_scores_from(counts), s_norm, num_buckets, bigrams
    )


def score_with_model(
    model: ImportanceModel,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents against a fitted/reopened model — same output
    schema as :func:`importance_scores`. The score table spans the
    UNION vocabulary of the fit (see :func:`_dsir_score_tables` — a
    target-only feature in a new shard carries its full positive
    ``ln(ct+1)`` signal); features outside BOTH fit corpora contribute
    exactly 0 micro-nats: with ct = cr = 0 the smoothed per-feature
    ratio is (0+1)/(0+1) = 1 and ``floor(1e6·ln 1) = 0`` in any
    engine, so the LEFT join + ``coalesce(s, 0)`` below is the fit
    arithmetic extended to unseen features, not a special case (they
    still count into ``n_features`` and carry the normalizer term,
    exactly as the fit would have weighted them). Plan: one explode +
    one join (broadcast in hashed
    mode, where the table is ≤ num_buckets rows) + one doc-keyed
    aggregate — the shape a foreachBatch micro-batch or a backfill
    shard wants."""
    occ = _dsir_features(
        docs, text_col, id_col, model.num_buckets, model.bigrams
    )
    scores = model.scores
    if model.num_buckets is not None:
        scores = F.broadcast(scores)
    return (
        occ.join(scores, "feat", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.coalesce(F.col("s"), F.lit(0))).alias("_ssum"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("n_features").cast("bigint").alias("n_features"),
            (
                F.col("_ssum")
                + F.col("n_features") * F.lit(model.s_norm)
            )
            .cast("bigint")
            .alias("importance_micronats"),
        )
    )


def save_importance_model(model: ImportanceModel, path: str) -> None:
    """Persist: the score table as parquet (its dtypes — string-or-long
    feat, long s — round-trip losslessly) plus a 1-row stats parquet
    with the normalizer and the feature-space config.

    The scores+stats PAIR goes through ``staged_overwrite_dir`` as ONE
    atomic swap (r12 review: two independent per-part swaps left a
    crash window pairing new scores with a stale normalizer — skewed
    importance weights on the reopened model). Whole-directory staging
    also keeps re-save-to-same-path safe: a reopened model's score
    table is a lazy scan of ``{path}/scores``, untouched until the new
    generation is fully written — a plain ``mode('overwrite')`` would
    delete the very files the write's plan reads."""
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    spark = model.scores.sparkSession
    staged_overwrite_dir(
        spark,
        {
            "scores": (model.scores, None),
            "stats": (
                spark.createDataFrame(
                    [
                        (
                            model.s_norm,
                            model.num_buckets,
                            model.bigrams,
                            "bucket"
                            if model.num_buckets is not None
                            else "token",
                        )
                    ],
                    "s_norm long, num_buckets long, bigrams boolean, "
                    "feat_kind string",
                ).coalesce(1),
                None,
            ),
        },
        path,
    )


def load_importance_model(spark, path: str) -> ImportanceModel:
    """Reopen a saved model; the score table stays a lazy parquet scan
    (broadcast at score time in hashed mode). Calls
    ``recover_staged`` on the model directory first (the save stages
    the scores+stats pair as one swap), so a save that crashed
    mid-swap reopens the intact previous generation instead of failing
    on a missing directory."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    recover_staged(spark, path)
    row = spark.read.parquet(f"{path}/stats").collect()[0]
    return ImportanceModel(
        spark.read.parquet(f"{path}/scores"),
        row["s_norm"],
        None if row["num_buckets"] is None else int(row["num_buckets"]),
        row["bigrams"],
    )


def importance_resample_grouped(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    group_cols: str | list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    bigrams: bool = False,
) -> DataFrame:
    """Per-group DSIR selection: for each distinct value of
    ``group_cols``, draw ``k`` raw documents with probability
    proportional to their importance weight — "the most target-like k
    docs per language/source, sampled not cherry-picked", the balanced
    version of :func:`importance_resample` (a global draw follows the
    corpus mix, so a 90 %-English crawl yields a 90 %-English
    selection; per-language quotas need the draw grouped).

    The FIT stays GLOBAL: scores come from :func:`importance_scores`
    over the whole raw corpus, and only the draw is grouped — so a
    row's Gumbel key is identical in the global and grouped samplers
    and a row wins its group exactly when it ranks top-k among its
    group's keys in the global keying (the property the test suite
    pins by Python replay). This is deliberately NOT "fit DSIR per
    group": refitting on a subset changes p_raw and the smoothing
    denominators, i.e. answers a different question.

    Plan shape: the scored frame + one group-keyed shuffle +
    ROW_NUMBER ≤ k with Spark's WindowGroupLimit pre-truncating each
    partition to k rows per group (the QUALIFY shape, no global sort —
    the ``weighted_sample_topk_grouped`` plan over the Gumbel key).
    Output carries every raw column plus ``(n_features,
    importance_micronats)``; the key stays OUT (transcendental-repr
    rule)."""
    if k < 1:
        raise ValueError(
            f"importance_resample_grouped: k ({k}) must be >= 1"
        )
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if not groups:
        raise ValueError(
            "importance_resample_grouped: group_cols is empty"
        )
    scored = importance_scores(
        raw, target, text_col, id_col, num_buckets, bigrams
    )
    keyed = raw.join(scored, id_col).withColumn(
        "_gumbel", _gumbel_key(id_col)
    )
    win = Window.partitionBy(*groups).orderBy(
        F.col("_gumbel").desc(), F.col(id_col).asc()
    )
    return (
        keyed.withColumn("_rn", F.row_number().over(win))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_gumbel")
    )


def importance_model_report(
    raw: DataFrame,
    target: DataFrame,
    top_k: int = 20,
    source_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    bigrams: bool = False,
) -> DataFrame:
    """DSIR fit diagnostic — the held-out sanity check of
    arXiv:2302.03169's workflow, run BEFORE committing a resample of
    100 TB (the same monitor-before-commit pattern as
    ``similarity.ivf_recall_audit`` and ``dedup.blocking_recall``): a
    user who is about to select by importance weight should first see
    WHICH features drive the model and WHERE the mass lands by source.
    Takes the corpora (not a fitted :class:`ImportanceModel`): the
    per-feature counts are the fit's own intermediate — exactly what a
    persisted model discards — and the diagnostic belongs at fit time,
    when both corpora are at hand anyway.

    One tidy long-format frame, ``(section, key, rank, n,
    value_micronats)``, every value integer micro-nats — BIGINT
    arithmetic on the same floored-log terms as
    :func:`importance_scores`, so the report is EXACTLY reproducible
    in any engine (no float aggregates anywhere). Sections:

    * ``top_target_feature`` — the ``top_k`` features by full smoothed
      per-occurrence log-ratio ``s + s_norm`` descending (ties by
      feature); ``n`` = target count, ``value`` = the ratio. These are
      the features a selected document is being REWARDED for — if they
      look like markup or boilerplate, the target corpus is dirty.
    * ``top_raw_feature`` — the same ascending: what the model
      penalizes; junk here is expected, real content here is a red
      flag.
    * ``kl_contribution`` — the ``top_k`` features by their term of
      the smoothed KL(target‖raw) estimate,
      ``floor((ct+1)·(s+s_norm) / (Nt+V))`` micro-nats (floor division
      via the pmod identity so both engines agree on negative
      numerators); a KL dominated by a handful of features means the
      model is a keyword detector, not a distribution match.
    * ``source_avg_score`` / ``source_min_score`` /
      ``source_max_score`` — when ``source_col`` is given: the per-doc
      importance distribution grouped by source (``n`` = docs;
      average floor-divided, min/max exact). The pre-commit question
      "which shards will the resample drain?" answered before any
      selection runs; NULL sources are excluded (the grouped-operator
      family convention).
    * ``summary`` — ``vocabulary_size`` (``n`` = |V|, ``value`` =
      ``s_norm``) and ``kl_target_vs_raw_micronats`` (``n`` = target
      occurrences, ``value`` = the full KL estimate, the sum of every
      feature's floored contribution).

    Unlike the scorer's raw-vocabulary inner join, the feature
    sections run over the UNION vocabulary: a target-only feature is
    precisely the strongest positive signal (the
    :func:`_dsir_score_tables` argument) and belongs at the top of the
    report. Scale shape: every section aggregates the vocabulary-sized
    counts frame (≤ ``num_buckets`` rows in the hashed 100 TB regime)
    — top-k via orderBy+limit (TakeOrderedAndProject, no global sort)
    — and the source section adds one doc-keyed aggregate, the
    :func:`importance_scores` plan. The counts frame is
    ``localCheckpoint``-ed once (the ``fit_importance_model`` pattern)
    so the report's sections do not each re-run the two-corpus fit."""
    if top_k < 1:
        raise ValueError(
            f"importance_model_report: top_k ({top_k}) must be >= 1"
        )
    raw_occ = _dsir_features(raw, text_col, id_col, num_buckets, bigrams)
    counts = _dsir_counts(
        raw_occ, target, text_col, num_buckets, bigrams
    ).localCheckpoint()
    # empty-fit guard (r12 ADVICE): zero features means both corpora
    # were empty or all-NULL text — the summary aggregates would emit
    # NULL value_micronats (SUM over zero rows). Fail fast like the
    # top_k guard; the checkpoint above already materialized counts,
    # so this emptiness probe is metadata-cheap, not a second fit.
    if counts.isEmpty():
        raise ValueError(
            "importance_model_report: empty fit — both corpora "
            "produced zero features (empty or all-NULL text)"
        )
    stats = counts.agg(
        F.sum(F.coalesce(F.col("cr"), F.lit(0))).alias("n_raw"),
        F.sum(F.coalesce(F.col("ct"), F.lit(0))).alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    ).select(
        "n_raw",
        "n_tgt",
        "v",
        F.floor(
            F.lit(1e6)
            * F.log(
                (F.col("n_raw") + F.col("v")).cast("double")
                / (F.col("n_tgt") + F.col("v")).cast("double")
            )
        ).alias("s_norm"),
    )
    feats = (
        counts.select(
            F.col("feat").cast("string").alias("key"),
            F.coalesce(F.col("cr"), F.lit(0)).cast("bigint").alias("cr"),
            F.coalesce(F.col("ct"), F.lit(0)).cast("bigint").alias("ct"),
            F.floor(
                F.lit(1e6)
                * F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (
                        F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1)
                    ).cast("double")
                )
            ).alias("s"),
        )
        .crossJoin(F.broadcast(stats))
        .withColumn("full_s", F.col("s") + F.col("s_norm"))
        # per-feature smoothed-KL term; the pmod identity makes the
        # integer division a true floor in every engine (`DIV`
        # truncates, which differs from floor exactly when the
        # numerator is negative — and penalized features make it so)
        .withColumn("_num", (F.col("ct") + F.lit(1)) * F.col("full_s"))
        .withColumn("_den", F.col("n_tgt") + F.col("v"))
        .withColumn(
            "contrib",
            F.expr("(_num - pmod(_num, _den)) DIV _den").cast("bigint"),
        )
    )

    by_target = [F.col("full_s").desc(), F.col("key").asc()]
    by_raw = [F.col("full_s").asc(), F.col("key").asc()]
    by_kl = [F.col("contrib").desc(), F.col("key").asc()]
    w_t, w_r, w_k = (Window.orderBy(*o) for o in (by_target, by_raw, by_kl))
    sec_t = (
        feats.orderBy(*by_target)
        .limit(top_k)
        .select(
            F.lit("top_target_feature").alias("section"),
            "key",
            F.row_number().over(w_t).cast("bigint").alias("rank"),
            F.col("ct").alias("n"),
            F.col("full_s").cast("bigint").alias("value_micronats"),
        )
    )
    sec_r = (
        feats.orderBy(*by_raw)
        .limit(top_k)
        .select(
            F.lit("top_raw_feature").alias("section"),
            "key",
            F.row_number().over(w_r).cast("bigint").alias("rank"),
            F.col("cr").alias("n"),
            F.col("full_s").cast("bigint").alias("value_micronats"),
        )
    )
    sec_k = (
        feats.orderBy(*by_kl)
        .limit(top_k)
        .select(
            F.lit("kl_contribution").alias("section"),
            "key",
            F.row_number().over(w_k).cast("bigint").alias("rank"),
            F.col("ct").alias("n"),
            F.col("contrib").alias("value_micronats"),
        )
    )
    summary = feats.agg(
        F.sum("contrib").alias("_kl_total")
    ).crossJoin(F.broadcast(stats))
    sec_s = summary.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("vocabulary_size").alias("key"),
                    F.lit(1).cast("bigint").alias("rank"),
                    F.col("v").cast("bigint").alias("n"),
                    F.col("s_norm").cast("bigint").alias(
                        "value_micronats"
                    ),
                ),
                F.struct(
                    F.lit("kl_target_vs_raw_micronats").alias("key"),
                    F.lit(2).cast("bigint").alias("rank"),
                    F.col("n_tgt").cast("bigint").alias("n"),
                    F.col("_kl_total").cast("bigint").alias(
                        "value_micronats"
                    ),
                ),
            )
        ).alias("_row")
    ).select(
        F.lit("summary").alias("section"),
        F.col("_row.key").alias("key"),
        F.col("_row.rank").alias("rank"),
        F.col("_row.n").alias("n"),
        F.col("_row.value_micronats").alias("value_micronats"),
    )
    out = sec_t.unionByName(sec_r).unionByName(sec_k).unionByName(sec_s)

    if source_col is not None:
        scores = _dsir_scores_from(counts)
        if num_buckets is not None:
            scores = F.broadcast(scores)
        per_doc = (
            raw_occ.join(scores, "feat")
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).alias("_nf"),
                F.sum("s").alias("_ssum"),
            )
            .crossJoin(F.broadcast(stats.select("s_norm")))
            .select(
                "doc",
                (F.col("_ssum") + F.col("_nf") * F.col("s_norm")).alias(
                    "_imp"
                ),
            )
        )
        src = (
            per_doc.join(
                raw.select(
                    F.col(id_col).alias("doc"),
                    F.col(source_col).alias("key"),
                ),
                "doc",
            )
            .filter(F.col("key").isNotNull())
            .groupBy("key")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("_imp").alias("_sum"),
                F.min("_imp").alias("_min"),
                F.max("_imp").alias("_max"),
            )
            .withColumn(
                "rank",
                F.row_number()
                .over(Window.orderBy(F.col("key").asc()))
                .cast("bigint"),
            )
            .withColumn(
                "_avg",
                F.expr("(_sum - pmod(_sum, n)) DIV n").cast("bigint"),
            )
        )

        def _src_section(section: str, value_col: str) -> DataFrame:
            return src.select(
                F.lit(section).alias("section"),
                F.col("key").cast("string").alias("key"),
                "rank",
                F.col("n").cast("bigint").alias("n"),
                F.col(value_col).cast("bigint").alias("value_micronats"),
            )

        out = (
            out.unionByName(_src_section("source_avg_score", "_avg"))
            .unionByName(_src_section("source_min_score", "_min"))
            .unionByName(_src_section("source_max_score", "_max"))
        )
    return out


def quality_select_top_grouped(
    docs: DataFrame,
    keep_permille: int = 300,
    group_cols: str | list[str] = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: dict | None = None,
) -> DataFrame:
    """Per-group top-quality selection: keep the top
    ``keep_permille``/1000 of EACH group by quality score — "the best
    30 % of every language", the balanced version of
    :func:`quality_select_top` (a global threshold keeps whatever mix
    clears it, which hollows out low-resource languages whose score
    distributions sit lower).

    Fully distributed — and since r12 this IS the only threshold
    engine (:func:`quality_select_top` routes through here with a
    constant group): per-group thresholds come from a cumulative count
    over the (group, integer-logit) HISTOGRAM — the window's input is
    histogram-sized, never the corpus — using the pure-integer cutoff
    test ``1000·cum ≥ n_g·keep_permille`` (⟺ ``cum ≥
    ceil(n_g·keep/1000)`` with no division anywhere), then the tiny
    per-group threshold table broadcast-joins back for one filter
    pass. No row-level sort, no collect; two linear passes like the
    global operator. Same tie contract: every doc scoring exactly the
    group's threshold is kept (deterministic overshoot bounded by the
    tie mass).

    Rows whose group value is NULL are excluded (both the Spark plan
    and the SQL oracle inner-join on the group columns). Returns the
    scored rows plus the group columns and the group's
    ``threshold_milli``. The group columns ride the scorer's single
    projection (``quality_logit(carry_cols=...)``) — no corpus-to-
    corpus join anywhere in the plan; the only join is the broadcast
    of the group-count-sized threshold table.

    ``weights`` selects by a FITTED model instead of the published
    constants (r13 — the GPT-3/CCNet workflow: train a quality
    classifier on labeled seeds, then keep the best q‰ per group by
    ITS score): the dict flows into :func:`text.quality_logit`
    unchanged, so the threshold histogram, tie contract, and plan are
    identical — only the scoring constants differ."""
    from sales_data_warehouse_spark.operators.text import quality_logit

    if not 0 < keep_permille <= 1000:
        raise ValueError(
            f"quality_select_top_grouped: keep_permille "
            f"({keep_permille}) must be in (0, 1000]"
        )
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    if not groups:
        raise ValueError("quality_select_top_grouped: group_cols is empty")
    scored = quality_logit(
        docs,
        text_col=text_col,
        id_col=id_col,
        carry_cols=groups,
        weights=weights,
    )
    hist = scored.groupBy(*groups, "logit_milli").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_cum = (
        Window.partitionBy(*groups)
        .orderBy(F.col("logit_milli").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy(*groups)
    thresholds = (
        hist.withColumn("_cum", F.sum("_cnt").over(w_cum))
        .withColumn("_n", F.sum("_cnt").over(w_tot))
        .filter(
            F.col("_cum") * F.lit(1000)
            >= F.col("_n") * F.lit(keep_permille)
        )
        .groupBy(*groups)
        .agg(F.max("logit_milli").alias("threshold_milli"))
    )
    return scored.join(F.broadcast(thresholds), groups).filter(
        F.col("logit_milli") >= F.col("threshold_milli")
    )
