"""Text-analysis operators for large-scale training-data pipelines.

All pure Spark SQL expressions (JVM-side, whole-stage codegen) — no Python
UDFs: language-ID and quality scoring over 100 TB of documents stay as fast
as any other columnar scan. Each operator has a matching ANSI-SQL oracle in
``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: Tokenization: whitespace runs. Matches the oracle's string_split_regex.
TOKEN_SPLIT = r"\s+"

#: Punctuation class shared verbatim with the DuckDB oracle (explicit list —
#: engine-specific POSIX classes differ).
PUNCT_CLASS = r"[.,;:!?]"

#: Stopword regexes per language for the n-gram language-ID heuristic.
LANG_STOPWORDS = {
    "en": r"\b(the|and|of|to|in|is|for)\b",
    "es": r"\b(el|la|de|los|las|una|que)\b",
    "de": r"\b(der|die|das|und|ist|von|mit)\b",
    "fr": r"\b(le|la|les|des|est|une|dans)\b",
}


def tokens(text: Column) -> Column:
    return F.split(text, TOKEN_SPLIT)


def token_count(text: Column) -> Column:
    """Whitespace token count, BIGINT (matches oracle len())."""
    return F.size(tokens(text)).cast("bigint")


#: GPT-2-style pre-tokenizer shape: contractions, letter runs, digit runs,
#: symbol runs (each optionally space-prefixed), trailing whitespace runs.
#: Shared verbatim with the DuckDB oracle (lowercased input, so no case
#: classes).
BPE_PRETOKEN_RE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+"
)


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count: the GPT-2 pre-tokenization regex over
    lowercased text. Counts pre-merge pieces — the budget estimate a
    data pipeline uses before running a real BPE vocabulary, linear and
    JVM-side where true BPE would need a Python merge loop."""
    # group 0 = whole match (Spark defaults to group 1 and errors on
    # patterns without a capture group; DuckDB defaults to 0)
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(BPE_PRETOKEN_RE), 0)
    ).cast("bigint")


def text_quality(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: lengths, token stats, punctuation and
    stopword ratios. The canonical pre-training quality filter inputs."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_tok = token_count(t)
    no_punct = F.regexp_replace(t, PUNCT_CLASS, "")
    n_punct = (F.length(t) - F.length(no_punct)).cast("bigint")
    n_stop = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(LANG_STOPWORDS["en"]))
    ).cast("bigint")
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        F.round(n_chars / n_tok, 4).alias("chars_per_token"),
        n_punct.alias("n_punct"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop / n_tok, 6).alias("stopword_ratio"),
    )


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID (n-gram heuristic, SURVEY extension).

    Scores each language by stopword matches; deterministic tie-break by
    the fixed language order en > es > de > fr.
    """
    lowered = F.lower(F.col(text_col))
    hits = {
        lang: F.size(F.regexp_extract_all(lowered, F.lit(pat))).cast("bigint")
        for lang, pat in LANG_STOPWORDS.items()
    }
    guess = (
        F.when(
            (hits["en"] >= hits["es"])
            & (hits["en"] >= hits["de"])
            & (hits["en"] >= hits["fr"]),
            F.lit("en"),
        )
        .when((hits["es"] >= hits["de"]) & (hits["es"] >= hits["fr"]), F.lit("es"))
        .when(hits["de"] >= hits["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        hits["en"].alias("en_hits"),
        hits["es"].alias("es_hits"),
        hits["de"].alias("de_hits"),
        hits["fr"].alias("fr_hits"),
        guess.alias("lang_guess"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization fingerprint: md5 of lowercase, whitespace-collapsed
    text — the exact-dedup key that survives formatting noise."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return docs.select("doc_id", F.md5(norm).alias("fp"))


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    rolling hash over token k-grams, keep the minimum hash of every
    ``window`` consecutive k-grams (leftmost on ties), dedup selections.

    The selection guarantee — every run of ``window`` k-grams
    contributes at least one fingerprint — makes shared substrings of
    length >= k + window - 1 tokens detectable from the fingerprint
    sets alone, at ~2/(window+1) of the full shingle volume. All
    JVM-side: posexplode + lead for the k-grams, xxhash64 as the rolling
    hash, one bounded-frame window min for selection. Output: (doc,
    pos, fp) — pos is the k-gram offset the fingerprint was taken at.
    """
    from pyspark.sql import Window as W

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias("pos", "tok"),
    )
    w_lead = W.partitionBy("doc").orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", j).over(w_lead) for j in range(1, k)
    ]
    grams = (
        toks.withColumn("_last", parts[-1])
        .withColumn("gram", F.concat_ws(" ", *parts))
        .filter(F.col("_last").isNotNull())
        .select("doc", "pos", F.xxhash64("gram").alias("h"))
    )
    # min (hash, then leftmost pos) over each window of `window` k-grams
    w_sel = W.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    sel = grams.withColumn(
        "_pick", F.min(F.struct("h", "pos")).over(w_sel)
    )
    return (
        sel.select(
            "doc",
            F.col("_pick.pos").alias("pos"),
            F.col("_pick.h").alias("fp"),
        )
        .dropDuplicates()
    )


def shingles_from_tokens(token_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column. Documents with fewer than ``n`` tokens yield an empty array.

    PERF: the tokens must be a bound column, not an inline ``split(...)``
    expression — inside transform lambdas Catalyst does not CSE repeated
    subtrees, so inlining the split re-tokenizes the text once per
    element_at (O(tokens^2) per row; measured 20s vs <2s on 5k docs).
    """
    w = F.col(token_col)
    idx = F.sequence(F.lit(0), F.size(w) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def doc_shingles(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc, shingles) with the token array materialized in its own
    projection step (see shingles_from_tokens PERF note)."""
    return docs.select(
        F.col(id_col).alias("doc"),
        tokens(F.lower(F.col(text_col))).alias("_w"),
    ).select("doc", shingles_from_tokens("_w", n).alias("shingles"))


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Adjacent-symbol pair frequencies over BPE pre-tokens — the inner
    statistic of one BPE-training iteration (symbols = characters here,
    i.e. the first merge round; the full vocabulary loop reruns this on
    progressively merged symbols).

    Plan: regexp pre-tokenize (the shared GPT-2-style pattern), explode
    pre-tokens, explode each token's adjacent character pairs via a
    sequence over its length, then ONE groupBy(pair) count with
    map-side partial aggregation — at 100 TB the shuffle carries only
    the distinct-pair partial counts, never the corpus.

    Output: (pair, n) for pairs seen at least ``min_count`` times.
    """
    pretoks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(BPE_PRETOKEN_RE), 0
            )
        ).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = pretoks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("tok") - 1),
                lambda i: F.col("tok").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def repetition_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Repetition quality signals per document: the filters (after the
    Gopher ruleset) that catch boilerplate and degenerate generations —
    distinct-token ratio, most-frequent-token share, duplicate 2-gram
    and 3-gram fractions.

    Plan: ONE scan, ONE projection, ZERO shuffles. Every signal —
    including the top-token share — is per-document, so nothing here
    ever needs data from another row: the within-doc mode is the
    longest equal-run of the SORTED token array (``array_sort`` + one
    ``aggregate`` run-length pass), not a corpus-wide
    explode -> groupBy -> join-back (the pre-optimization shape, which
    shuffled every token of every document twice and re-joined on
    ``doc_id`` — 3 Exchanges for a quantity each row already holds; at
    100 TB that was a full corpus-token shuffle for a per-row scalar).
    All arithmetic is integer counts + one rounded double division, so
    both engines produce bit-identical results. Rows with NULL text are
    excluded, matching the explode formulation (explode of a NULL token
    array emitted nothing, and the inner join dropped the doc).
    """
    w = F.col("_w")

    def grams(n: int):
        # F.sequence defaults to step -1 when stop < start, so a doc with
        # fewer than n tokens would yield [0, -1] and element_at(w, 0)
        # aborts the whole query; DuckDB's GENERATE_SERIES returns empty
        # there. Guard like shingles_from_tokens to match.
        idx = F.sequence(F.lit(0), F.size(w) - n)
        made = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)],
            ),
        )
        return F.when(F.size(w) >= n, made).otherwise(
            F.array().cast("array<string>")
        )

    n_tok = F.size(w).cast("bigint")
    # Within-doc mode as a pure array expression: sort the tokens, then
    # one O(n) run-length fold — the longest run of equal adjacent
    # elements IS the max token count. `eqNullSafe` only ever compares
    # against the initial NULL sentinel (split() never yields NULL
    # elements), and `split` of a non-NULL string is never empty (even
    # "" tokenizes to [""]), so the result is >= 1 for every surviving
    # row — identical to what the explode+groupBy+max path produced.
    #
    # The merge branches ONCE per element on `x <=> prev` and each
    # branch builds the whole next accumulator: `best` tracks the max
    # over COMPLETED runs (folded in only when a run resets) and the
    # finisher closes the final open run with one `greatest`. The r14
    # shape inlined the run-length CASE twice per element (once for
    # `run`, again inside `greatest`), doubling the comparison work of
    # this hot single-projection path (r14 ADVICE; interpreted
    # higher-order lambdas get no common-subexpression elimination).
    top_cnt = F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("bigint").alias("run"),
            F.lit(0).cast("bigint").alias("best"),
        ),
        lambda acc, x: F.when(
            x.eqNullSafe(acc["prev"]),
            F.struct(
                x.alias("prev"),
                (acc["run"] + F.lit(1).cast("bigint")).alias("run"),
                acc["best"].alias("best"),
            ),
        ).otherwise(
            F.struct(
                x.alias("prev"),
                F.lit(1).cast("bigint").alias("run"),
                F.greatest(acc["best"], acc["run"]).alias("best"),
            )
        ),
        lambda acc: F.greatest(acc["best"], acc["run"]),
    )
    base = (
        docs.select(
            F.col(id_col), tokens(F.lower(F.col(text_col))).alias("_w")
        )
        .filter(w.isNotNull())
        .select(
            id_col,
            n_tok.alias("n_tokens"),
            F.size(F.array_distinct(w)).cast("bigint").alias("n_distinct"),
            (n_tok - 1).alias("n_2grams"),
            F.size(F.array_distinct(grams(2))).cast("bigint").alias("d2"),
            (n_tok - 2).alias("n_3grams"),
            F.size(F.array_distinct(grams(3))).cast("bigint").alias("d3"),
            top_cnt.alias("top_cnt"),
        )
    )

    def frac(num, den):
        return F.when(
            den > 0, F.round(num.cast("double") / den, 6)
        ).otherwise(F.lit(0.0))

    return base.select(
        id_col,
        "n_tokens",
        frac(F.col("n_distinct"), F.col("n_tokens")).alias("distinct_ratio"),
        frac(F.col("top_cnt"), F.col("n_tokens")).alias("top_token_frac"),
        F.when(
            F.col("n_2grams") > 0,
            F.round(
                1 - F.col("d2").cast("double") / F.col("n_2grams"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_frac"),
        F.when(
            F.col("n_3grams") > 0,
            F.round(
                1 - F.col("d3").cast("double") / F.col("n_3grams"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
    )


def lexical_diversity(
    docs: DataFrame, text_col: str = "text", group_col: str = "source"
) -> DataFrame:
    """Per-group vocabulary-health statistics: token count, type
    (distinct-token) count, hapax count (types occurring exactly once
    in the group), and integer per-mille type-token / hapax-token
    ratios.

    Corpus-curation signal the per-document filters can't see: a source
    whose group-level TTR collapses is template- or boilerplate-heavy
    even when no single document trips :func:`repetition_stats`; an
    abnormally high hapax share flags OCR noise or mojibake (every
    garbled word is unique).

    Plan: two cascaded aggregations — ``groupBy(group, token)`` counts,
    then ``groupBy(group)``. Both enjoy map-side partial aggregation;
    the only shuffle that matters carries distinct (group, token)
    partial counts, never corpus text, so 100 TB cost is bounded by
    |vocabulary| x |groups|, not corpus size. Ratios are pure-bigint
    ``(1000 * x) DIV tokens`` — no floating point, so both engines are
    bit-identical. Empty text still yields one empty-string token
    (``split`` semantics, shared with the oracle), so the divisor is
    never zero.
    """
    per_tok = (
        docs.select(
            F.col(group_col).alias("grp"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        per_tok.groupBy("grp")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("CAST((1000 * n_types) DIV n_tokens AS BIGINT)").alias(
                "ttr_permille"
            ),
            F.expr("CAST((1000 * n_hapax) DIV n_tokens AS BIGINT)").alias(
                "hapax_permille"
            ),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf rank.

    Scoring uses reciprocal document frequency in exact integer space —
    ``score_ppm = (tf * 1_000_000) div df`` — instead of the float
    ``tf·log(N/df)``: within one document the idf factor is any
    monotonically decreasing function of df, and integer arithmetic
    makes the *ranking* bit-identical across engines (a log-based score
    can flip near-ties in the last ulp). Ties broken by term ascending.

    Plan: tf = groupBy(doc, term) over the exploded tokens, df =
    groupBy(term) over tf's (doc, term) keys; df joins back on term;
    one window row_number per doc picks the top k. The df branch does
    NOT reuse the tf exchange: column pruning drops its unused count,
    so its (doc, term) aggregate becomes a distinct (``functions=[]``)
    that no longer matches tf's, and the executed plan scans and
    explodes ``docs`` twice.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    # integer DIV end-to-end (the oracle mirrors with DuckDB's //):
    # a float floor(a/b) path agrees only while tf*1e6 stays under 2^53
    scored = tf.join(df_, "term").withColumn(
        "score_ppm", F.expr("tf * 1000000L DIV df")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_ppm").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score_ppm")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_ppm: bool = True,
) -> DataFrame:
    """BM25 document ranking for a fixed term query — the lexical
    retrieval scorer (the other half of a RAG stack next to the ANN
    operators in ``similarity``).

    Two scoring modes:

    * ``exact_ppm=True`` (default, what the corpus oracle verifies):
      every factor is exact 64-bit integer arithmetic. The tf
      saturation ``tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))`` is
      rewritten over the common denominator ``D*T`` (``T`` = total
      corpus tokens, ``N`` = doc count, ``D`` = 10*100 from the
      rational constants k1 = k1_tenths/10, b = b_hundredths/100), and
      the idf is the Robertson ratio WITHOUT the log —
      ``(2N - 2df + 1) / (2df + 1)`` — because ``ln`` is not
      bit-identical between the JVM and C libm (measured: 279/500
      inputs differ in the last ulp), exactly the near-tie hazard the
      ``tfidf_top_terms`` docstring records. The per-term score is two
      integer divisions — ``idf_ppm = idf_num*1e6 DIV idf_den`` and
      ``tfpart_ppm = tf_num*1e6 DIV tf_den`` — multiplied and rescaled
      (``idf_ppm * tfpart_ppm DIV 1e6``), keeping every intermediate
      orders of magnitude under 2^63 where the single-division form
      overflowed already at ~300k corpus tokens. The per-doc sum of
      integer ppms is order-independent — bit-identical on any engine.

      SEMANTICS NOTE: the rational idf is per-term monotone in the
      true ln-idf, but the per-doc score SUMS terms, so on corpora
      with extreme document-frequency spreads the rational variant can
      weight a very rare term far above what ln-BM25 would — rankings
      are verifiable, not textbook-identical. Both modes hit exactly
      the same document set; use ``exact_ppm=False`` when ln-BM25
      ordering semantics matter more than cross-engine exactness.

      OVERFLOW GUARD: the operator pre-computes (N docs, T tokens,
      max tf over the query terms) in two tiny aggregates and RAISES
      if any intermediate could exceed 2^63 — silent ANSI-off
      wraparound would corrupt rankings AND desync from the oracle.
      Safe through millions of documents and ``T * max_tf`` up to
      ~4e9; beyond that use the double mode.
    * ``exact_ppm=False``: textbook BM25 with ``ln(1 + (N-df+0.5)/
      (df+0.5))`` idf in doubles — the scores users expect to eyeball,
      not cross-engine hash-stable.

    Plan: one tiny corpus-stats aggregate (collected — 1 row), then
    one token explode filtered to the query terms BEFORE any shuffle
    (the scan emits only |query|-matching tokens), tf = groupBy(doc,
    term); df broadcasts back; one final groupBy(doc) sums term
    scores; global top-k via the usual window over per-doc aggregates.
    """
    terms = [t.lower() for t in query_terms]
    # corpus stats: one 1-row aggregate, collected so the exact-ppm
    # overflow bound can be validated loudly and the values embedded
    # as literals (no crossJoin in the scoring plan)
    srow = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("bigint").alias("t_tokens"),
    ).collect()[0]
    n_docs, t_tokens = int(srow["n_docs"]), int(srow["t_tokens"] or 0)
    toks = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    ).filter(F.col("term").isin(terms))
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        # MAX not FIRST: dl is constant within a doc, but FIRST over a
        # grouped agg is formally nondeterministic (same rationale as
        # group_centroids.n_vecs)
        F.max("dl").alias("dl"),
    )
    return _bm25_rank(
        tf, n_docs, t_tokens, k, k1_tenths, b_hundredths, exact_ppm, id_col
    )


def _bm25_rank(
    tf: DataFrame,
    n_docs: int,
    t_tokens: int,
    k: int,
    k1_tenths: int,
    b_hundredths: int,
    exact_ppm: bool,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring tail over a (id, term, tf, dl) table already
    reduced to the query's terms — both the one-shot :func:`bm25_topk`
    and the persisted-index :func:`bm25_search` end here, so the two
    paths cannot drift."""
    if exact_ppm:
        # ACTUAL max tf over the query terms (not the max_dl upper
        # bound, which over-fires the guard 10x) — one cheap aggregate
        # over the filtered explode
        trow = tf.agg(F.max("tf").alias("m")).collect()[0]
        max_tf = int(trow["m"] or 0)
        # two intermediates to bound (see docstring):
        #   tf_num*1e6 = 2200*T*tf*1e6  and  idf_ppm*tfpart_ppm where
        #   idf_ppm <= (2N+1)*1e6 and tfpart_ppm <= (k1+1)*1e6
        worst = max(
            (10 + k1_tenths) * 100 * t_tokens * max(max_tf, 1) * 1_000_000,
            (2 * n_docs + 1) * 1_000_000 * (10 + k1_tenths) * 100_000,
        )
        if worst >= 2**63:
            raise ValueError(
                "bm25_topk(exact_ppm=True): integer score would overflow "
                f"int64 (bound {worst:.3e} >= 2^63) for N={n_docs}, "
                f"T={t_tokens}, max_tf={max_tf}. Use exact_ppm=False "
                "(double ln-idf scores) at this corpus size — the "
                "integer mode exists for oracle-verifiable exactness."
            )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .withColumn("n_docs", F.lit(n_docs).cast("bigint"))
        .withColumn("t_tokens", F.lit(t_tokens).cast("bigint"))
    )
    if exact_ppm:
        # two-division integer rewrite (see docstring):
        #   idf_ppm    = (2N - 2df + 1)*1e6 DIV (2df + 1)
        #   tfpart_ppm = 2200*T*tf*1e6
        #                DIV (1000*T*tf + k1t*(100-bh)*T + k1t*bh*dl*N)
        #   score_ppm  = idf_ppm * tfpart_ppm DIV 1e6
        # with k1 = k1_tenths/10, b = b_hundredths/100; constants for
        # the defaults: 2200 / 300 / 900.
        idf_num = (
            (F.lit(2) * F.col("n_docs") - F.lit(2) * F.col("df") + F.lit(1))
            * F.lit(1_000_000)
        )
        idf_den = F.lit(2) * F.col("df") + F.lit(1)
        tf_num = (
            F.lit((10 + k1_tenths) * 100)
            * F.col("t_tokens")
            * F.col("tf")
            * F.lit(1_000_000)
        )
        tf_den = (
            F.lit(1000) * F.col("t_tokens") * F.col("tf")
            + F.lit(k1_tenths * (100 - b_hundredths)) * F.col("t_tokens")
            + F.lit(k1_tenths * b_hundredths)
            * F.col("dl")
            * F.col("n_docs")
        )
        # integer DIV — mirrored by DuckDB's // in the oracle
        scored = (
            scored.withColumn("_idf_num", idf_num)
            .withColumn("_idf_den", idf_den)
            .withColumn("_tf_num", tf_num)
            .withColumn("_tf_den", tf_den)
            .withColumn(
                "score_ppm",
                F.expr(
                    "(_idf_num DIV _idf_den) * (_tf_num DIV _tf_den) "
                    "DIV 1000000L"
                ),
            )
        )
        per_doc = scored.groupBy(id_col).agg(
            F.sum("score_ppm").cast("bigint").alias("score_ppm"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        order = [F.col("score_ppm").desc(), F.col(id_col).asc()]
        out_cols = [id_col, "n_terms_hit", "score_ppm"]
    else:
        k1 = k1_tenths / 10.0
        b = b_hundredths / 100.0
        avgdl = F.col("t_tokens") / F.col("n_docs")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        tfpart = (F.col("tf") * F.lit(k1 + 1)) / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1 - b) + F.lit(b) * F.col("dl") / avgdl)
        )
        scored = scored.withColumn("_s", idf * tfpart)
        per_doc = scored.groupBy(id_col).agg(
            F.round(F.sum("_s"), 6).alias("score"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
        )
        order = [F.col("score").desc(), F.col(id_col).asc()]
        out_cols = [id_col, "n_terms_hit", "score"]
    w = Window.orderBy(*order)
    return (
        per_doc.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("rank", *out_cols)
    )


#: quality_logit weights, integer milli-units — w · features_ppm / 1000.
#: Chosen to reward stopword density (real prose) and penalize
#: punctuation density and extreme length; published as constants so the
#: score is a documented, replayable contract rather than a model blob.
QUALITY_LOGIT_WEIGHTS = {
    "bias_milli": -500,
    "per_token_milli": 2,  # longer docs mildly preferred
    "punct_ppm_milli_per_k": -40,  # punct_ppm/1000 * this
    "stop_ppm_milli_per_k": 90,  # stop_ppm/1000 * this
}


def quality_logit(
    docs: DataFrame,
    keep_threshold_milli: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
    weights: dict | None = None,
) -> DataFrame:
    """Linear quality classifier over the ``text_quality`` features,
    entirely in scaled-integer space: ratios become exact ppm integers
    (``n*1e6 DIV d``), weights are integer milli-units, and the logit is
    an integer sum — bit-identical across engines with no float in
    sight (``exp``/``ln`` differ between JVM and libm in the last ulp;
    measured, see ``bm25_topk``). The sigmoid is monotone, so
    thresholding the logit IS thresholding the probability — the
    keep/drop decision needs no transcendental math.

    Output: (id_col, n_tokens, punct_ppm, stop_ppm, logit_milli, keep),
    plus any ``carry_cols`` passed through unchanged (so callers that
    need grouping columns downstream get them in the SAME single
    projection instead of joining the corpus back to itself). One
    scan, no shuffle, no UDF.

    ``weights`` swaps the published constants for another set in the
    same integer milli format — the hook :func:`score_with_classifier`
    uses to run a FITTED model through this exact arithmetic (r13; the
    scorer is the contract, the weights are data).
    """
    carry = list(carry_cols or [])
    if weights is None:
        weights = QUALITY_LOGIT_WEIGHTS
    if set(weights) != set(QUALITY_LOGIT_WEIGHTS):
        raise ValueError(
            "quality_logit: weights must have exactly the keys "
            f"{sorted(QUALITY_LOGIT_WEIGHTS)}, got {sorted(weights)}"
        )
    import numbers

    # Values are part of the contract too, not just keys: a float
    # milli weight would build a float logit expression that the
    # bigint cast silently truncates, breaking the bit-identical
    # cross-engine scoring this hook exists for (r13 advice). Accept
    # any integral type (int, numpy integer) and normalize to Python
    # int; refuse bools and floats loudly.
    bad = {
        k: v
        for k, v in weights.items()
        if isinstance(v, bool) or not isinstance(v, numbers.Integral)
    }
    if bad:
        raise ValueError(
            "quality_logit: weights are integer milli-units by "
            f"contract; got non-integer values {bad!r}. Quantize "
            "first (round(w * 1000)) — silent float truncation is "
            "exactly what the integer format rules out."
        )
    weights = {k: int(v) for k, v in weights.items()}
    t = F.col(text_col)
    n_chars = F.length(t).cast("bigint")
    n_tok = token_count(t)
    no_punct = F.regexp_replace(t, PUNCT_CLASS, "")
    n_punct = (F.length(t) - F.length(no_punct)).cast("bigint")
    n_stop = F.size(
        F.regexp_extract_all(F.lower(t), F.lit(LANG_STOPWORDS["en"]))
    ).cast("bigint")
    w = weights
    base = docs.select(
        id_col,
        *carry,
        n_tok.alias("n_tokens"),
        (n_punct * F.lit(1_000_000)).alias("_pp_num"),
        n_chars.alias("_nc"),
        (n_stop * F.lit(1_000_000)).alias("_sp_num"),
    )
    base = base.select(
        id_col,
        *carry,
        "n_tokens",
        F.expr("_pp_num DIV _nc").alias("punct_ppm"),
        F.expr("_sp_num DIV n_tokens").alias("stop_ppm"),
    )
    logit = (
        F.lit(w["bias_milli"])
        + F.lit(w["per_token_milli"]) * F.col("n_tokens")
        + F.lit(w["punct_ppm_milli_per_k"])
        * F.expr("punct_ppm DIV 1000")
        + F.lit(w["stop_ppm_milli_per_k"]) * F.expr("stop_ppm DIV 1000")
    ).cast("bigint")
    return base.withColumn("logit_milli", logit).withColumn(
        "keep", F.col("logit_milli") >= keep_threshold_milli
    )


#: Demo weights FITTED by :func:`fit_quality_classifier` (r13) on the
#: sf0.01 documents table against the ``lang == 'en'`` seed labeling —
#: the same target the DSIR corpus entries use. Committed so the
#: apply side is a replayable integer contract (the driver oracle
#: inlines these constants); they describe THIS synthetic corpus, not
#: quality truth — a real pipeline refits on its own labeled seeds
#: (CCNet-style wiki-vs-crawl) and ships its own constants. The
#: reproducibility test refits and pins these to ±1 milli.
TRAINED_QUALITY_WEIGHTS = {
    "bias_milli": -137,
    "per_token_milli": -1,
    "punct_ppm_milli_per_k": 0,
    "stop_ppm_milli_per_k": -2,
}


@dataclass(frozen=True)
class QualityClassifier:
    """A fitted linear quality model in :data:`QUALITY_LOGIT_WEIGHTS`'
    integer milli format, plus fit metadata. ``weights`` plugs
    straight into :func:`quality_logit`'s arithmetic, so inference is
    the same single-scan pure-JVM integer projection as the published
    constants — the float model exists only at fit time."""

    weights: dict
    n_pos: int
    n_neg: int


def fit_quality_classifier(
    docs: DataFrame,
    labels: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    max_iter: int = 100,
    reg_param: float = 0.0,
) -> QualityClassifier:
    """Fit a trainable quality classifier (r12 VERDICT next-round #5):
    the CCNet/GPT-3-style step where a linear model is trained on
    labeled seed sets (positives = a trusted corpus, negatives = raw
    crawl) instead of hand-picked weights — CCNet trains a fastText
    head on wiki-vs-crawl (Wenzek et al., arXiv:1911.00359 §4.3) and
    GPT-3 a logistic classifier over the same split (Brown et al.,
    arXiv:2005.14165 Appendix A). Spark ML
    ``LogisticRegression`` (LBFGS) over the EXACT integer feature
    terms :func:`quality_logit` multiplies — ``n_tokens``,
    ``punct_ppm DIV 1000``, ``stop_ppm DIV 1000`` — so the fitted
    float coefficients quantize directly into the scorer's milli
    format: ``per_token_milli = round(w_tokens * 1000)`` etc. The
    returned model scores through :func:`score_with_classifier` in
    pure-JVM integer arithmetic; quantization granularity is the
    published format's (±0.0005 per unit feature), the price of a
    bit-replayable apply side.

    ``labels`` is ``(id_col, label_col)`` with labels in {0, 1} (or
    boolean); rows of ``docs`` without a label are ignored (inner
    join) — seed sets are small, corpora are not.

    Scale shape: featurization is :func:`quality_logit`'s single scan;
    the assemble+LBFGS path aggregates 3-feature vectors via
    ``treeAggregate`` (one reduction per iteration, nothing
    corpus-sized on the driver). Deterministic on fixed data: LBFGS
    from a zero start with no sampling anywhere.
    """
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = quality_logit(docs, text_col=text_col, id_col=id_col)
    train = feats.join(
        labels.select(
            F.col(id_col),
            F.col(label_col).cast("double").alias("_y"),
        ),
        id_col,
    ).select(
        F.col("n_tokens").cast("double").alias("_f_tokens"),
        F.expr("punct_ppm DIV 1000").cast("double").alias("_f_punct_k"),
        F.expr("stop_ppm DIV 1000").cast("double").alias("_f_stop_k"),
        "_y",
    )
    # cache the featurized seed set for the iterative fit: LBFGS runs
    # one treeAggregate job per iteration, and without this each
    # iteration would re-run the tokenize/regex featurization scan —
    # the frame is seed-set-sized (labels are small by construction),
    # so the cache is bounded
    assembled = (
        VectorAssembler(
            inputCols=["_f_tokens", "_f_punct_k", "_f_stop_k"],
            outputCol="features",
        )
        .transform(train)
        .select("features", "_y")
        .persist()
    )
    try:
        counts = assembled.agg(
            F.sum(F.col("_y")).cast("bigint").alias("p"),
            F.sum(F.lit(1) - F.col("_y")).cast("bigint").alias("n"),
        ).collect()[0]  # bounded: one 2-field row (class balance)
        n_pos, n_neg = int(counts["p"] or 0), int(counts["n"] or 0)
        if n_pos == 0 or n_neg == 0:
            raise ValueError(
                "fit_quality_classifier: need both classes in the "
                f"labeled seed set (got {n_pos} positive / {n_neg} "
                "negative)"
            )
        model = LogisticRegression(
            featuresCol="features",
            labelCol="_y",
            maxIter=max_iter,
            regParam=reg_param,
            standardization=True,
            family="binomial",
        ).fit(assembled)
    finally:
        assembled.unpersist()
    w_tok, w_punct, w_stop = (float(c) for c in model.coefficients)
    return QualityClassifier(
        weights={
            "bias_milli": round(float(model.intercept) * 1000),
            "per_token_milli": round(w_tok * 1000),
            "punct_ppm_milli_per_k": round(w_punct * 1000),
            "stop_ppm_milli_per_k": round(w_stop * 1000),
        },
        n_pos=n_pos,
        n_neg=n_neg,
    )


def score_with_classifier(
    docs: DataFrame,
    clf: QualityClassifier | dict,
    keep_threshold_milli: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a fitted (or committed) quality model: exactly
    :func:`quality_logit` with the model's milli weights — same
    single-scan integer plan, same output schema, bit-identical across
    engines. Accepts either a :class:`QualityClassifier` or a bare
    weights dict (e.g. :data:`TRAINED_QUALITY_WEIGHTS`)."""
    weights = clf.weights if isinstance(clf, QualityClassifier) else clf
    return quality_logit(
        docs,
        keep_threshold_milli=keep_threshold_milli,
        text_col=text_col,
        id_col=id_col,
        carry_cols=carry_cols,
        weights=weights,
    )


def save_quality_classifier(
    spark, clf: QualityClassifier, path: str
) -> None:
    """Persist as ONE 1-row parquet (weights + class counts) via
    ``staged_overwrite`` — single-part state, so the plain staged swap
    is already atomic (no pair-consistency window to close, unlike the
    postings+stats indexes)."""
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite,
    )

    w = clf.weights
    staged_overwrite(
        spark,
        spark.createDataFrame(
            [
                (
                    w["bias_milli"],
                    w["per_token_milli"],
                    w["punct_ppm_milli_per_k"],
                    w["stop_ppm_milli_per_k"],
                    clf.n_pos,
                    clf.n_neg,
                )
            ],
            "bias_milli long, per_token_milli long, "
            "punct_ppm_milli_per_k long, stop_ppm_milli_per_k long, "
            "n_pos long, n_neg long",
        ).coalesce(1),
        path,
    )


def load_quality_classifier(spark, path: str) -> QualityClassifier:
    """Reopen a saved classifier; recovers a crashed mid-swap save
    first (the ``load_importance_model`` contract)."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    recover_staged(spark, path)
    row = spark.read.parquet(path).collect()[0]
    return QualityClassifier(
        weights={
            "bias_milli": int(row["bias_milli"]),
            "per_token_milli": int(row["per_token_milli"]),
            "punct_ppm_milli_per_k": int(row["punct_ppm_milli_per_k"]),
            "stop_ppm_milli_per_k": int(row["stop_ppm_milli_per_k"]),
        },
        n_pos=int(row["n_pos"]),
        n_neg=int(row["n_neg"]),
    )


def ngram_occurrences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int | None = None,
    bigrams: bool = True,
) -> DataFrame:
    """One row per n-gram feature OCCURRENCE (a bag, not a set):
    lowercased whitespace unigrams plus word bigrams — the
    CCNet/fastText classifier feature space, which is deliberately the
    SAME feature space as the DSIR family's
    (``sampling._dsir_features``): ``TOKEN_SPLIT`` tokens and the one
    shared :func:`bigrams_from_tokens` kernel, so the n-gram
    definition cannot drift between the importance weigher and the
    quality classifier. With ``num_buckets`` the feature is hashed to
    a bucket id (``pmod(xxhash64(feat), B)``) BEFORE any aggregation —
    the fastText hashing trick (Joulin et al., arXiv:1607.01759 §2.1)
    — so no stage ever carries the raw vocabulary. Output columns:
    ``(doc, feat)``; one scan, one generate, no shuffle."""
    if num_buckets is not None and num_buckets < 1:
        raise ValueError(
            f"num_buckets ({num_buckets}) must be >= 1 (pmod by 0 is "
            "NULL under non-ANSI semantics — every join key would "
            "silently miss)"
        )
    base = docs.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT).alias("_w"),
    )
    feats = F.col("_w")
    if bigrams:
        feats = F.concat(feats, bigrams_from_tokens("_w"))
    out = base.select("doc", F.explode(feats).alias("feat"))
    if num_buckets is not None:
        out = out.withColumn(
            "feat", F.pmod(F.xxhash64("feat"), F.lit(num_buckets))
        )
    return out


@dataclass(frozen=True)
class NgramQualityClassifier:
    """A fitted bag-of-hashed-ngrams quality model — the real
    CCNet/fastText shape (Wenzek et al., arXiv:1911.00359 §4.3 train a
    fastText head on wiki-vs-crawl; GPT-3, arXiv:2005.14165 Appendix A,
    a logistic classifier over the same split), where the r13 scalar
    model (:class:`QualityClassifier`) separates only on shape
    statistics, this one separates on CONTENT. ``weights`` maps each
    feature seen at fit time — the n-gram string in exact mode
    (``num_buckets is None``), the xxhash64 bucket id otherwise — to an
    integer milli weight; inference is one explode + one broadcast
    lookup + one integer sum, no float anywhere (the
    :data:`TRAINED_QUALITY_WEIGHTS` contract: the float model exists
    only at fit time)."""

    bias_milli: int
    weights: dict
    num_buckets: int | None
    bigrams: bool
    n_pos: int
    n_neg: int


def fit_quality_classifier_ngrams(
    docs: DataFrame,
    labels: DataFrame,
    num_buckets: int | None = 4096,
    vocab_size: int | None = None,
    bigrams: bool = True,
    max_iter: int = 100,
    reg_param: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
) -> NgramQualityClassifier:
    """Fit the hashed-n-gram quality classifier (r13 VERDICT #4 — the
    upgrade from three shape features to content features). Spark ML
    ``LogisticRegression`` (LBFGS) over per-document bucket-count
    vectors: featurize ONLY the labeled seed docs (inner join first —
    seed sets are small by construction, corpora are not), hash each
    unigram/bigram to one of ``num_buckets`` buckets, and build the
    dense count vector entirely JVM-side (``map_from_entries`` +
    ``transform(sequence(...))`` + ``array_to_vector`` — no Python
    row path, no VectorUDT UDF). Exact mode (``num_buckets=None``)
    keys features by the n-gram STRING, restricted to the
    ``vocab_size`` most document-frequent n-grams of the seed set
    (ties by n-gram ascending — deterministic), which is the
    committable/SQL-expressible form the driver oracle uses; hashed
    mode is the 100 TB production form (B bounds the model, the
    vector dim, and the broadcast, whatever the corpus vocabulary
    does).

    The returned model's ``weights`` contain every feature SEEN at
    fit time (zero-milli entries included — they define the model's
    vocabulary and the ``n_features`` match count downstream);
    unseen features are out-of-vocabulary at apply time, exactly
    fastText's behavior for an untrained bucket.

    Scale shape: one seed-sized shuffle to per-doc counts, one
    bounded vocab collect (``<= min(num_buckets, seed vocabulary)``
    rows), then LBFGS treeAggregate over dense vectors at the COMPACT
    dimension ``n_seen = min(num_buckets, seed vocabulary)`` — seen
    buckets are remapped to ``[0, n_seen)`` for the fit (unseen
    buckets are all-zero columns whose MLE coefficient is zero, so
    the compact model is identical) and exported under their
    original ids — one reduction per iteration, nothing corpus-sized
    on the driver; fit cost is set by SEED size alone, not the
    corpus and not ``num_buckets`` (B = 1M fits like B = 4096 — the
    fastText regime of a large hash space over a small labeled set).
    Deterministic on fixed data: LBFGS from a zero start, no sampling
    anywhere."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.functions import array_to_vector

    spark = docs.sparkSession
    labeled = docs.join(
        labels.select(
            F.col(id_col),
            F.col(label_col).cast("double").alias("_y"),
        ),
        id_col,
    )
    occ = ngram_occurrences(
        labeled, text_col, id_col, num_buckets=num_buckets, bigrams=bigrams
    )
    cnts = occ.groupBy("doc", "feat").agg(
        F.count(F.lit(1)).cast("double").alias("_c")
    )
    if num_buckets is not None:
        if vocab_size is not None:
            raise ValueError(
                "fit_quality_classifier_ngrams: vocab_size is the "
                "exact-mode vocabulary cap; in hashed mode the bucket "
                "space bounds the model — pass one or the other"
            )
        # The fit trains only over buckets the seed set actually
        # touched (bounded by min(B, seed vocabulary)): unseen buckets
        # have all-zero columns whose MLE coefficient is zero anyway,
        # so remapping seen buckets to a COMPACT index [0, n_seen)
        # fits the identical model at dense dim n_seen instead of B —
        # B costs nothing at fit time (B = 1M fits like B = 4096;
        # without this, gradient work is O(seed x B) and large B is
        # the fastText regime you'd want). Weights export under the
        # ORIGINAL bucket ids, so the apply side never sees the
        # remap.
        seen = sorted(
            int(r["feat"])
            for r in cnts.select("feat").distinct().collect()
        )
        dim = len(seen)
        if dim == 0:
            # match exact mode: an all-NULL/empty text column must
            # fail loudly, not fit a bias-only model with no features
            raise ValueError(
                "fit_quality_classifier_ngrams: empty seed vocabulary"
            )
        mapping = spark.createDataFrame(
            [(b, i) for i, b in enumerate(seen)], "feat long, _i int"
        )
        indexed = cnts.join(F.broadcast(mapping), "feat")
        vocab = [int(b) for b in seen]
    else:
        dfreq = (
            cnts.groupBy("feat")
            .agg(F.countDistinct("doc").alias("_df"))
            .orderBy(F.col("_df").desc(), F.col("feat").asc())
        )
        if vocab_size is not None:
            dfreq = dfreq.limit(vocab_size)
        vocab = [r["feat"] for r in dfreq.collect()]  # bounded: top-V
        dim = len(vocab)
        if dim == 0:
            raise ValueError(
                "fit_quality_classifier_ngrams: empty seed vocabulary"
            )
        mapping = spark.createDataFrame(
            [(f, i) for i, f in enumerate(vocab)], "feat string, _i int"
        )
        indexed = cnts.join(F.broadcast(mapping), "feat")
    vecs = indexed.groupBy("doc").agg(
        F.map_from_entries(
            F.collect_list(F.struct("_i", "_c"))
        ).alias("_m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at("_m", i), F.lit(0.0)),
    )
    assembled = (
        labeled.select(F.col(id_col).alias("doc"), "_y")
        .join(vecs, "doc", "left")
        .select("_y", array_to_vector(dense).alias("features"))
        .persist()  # seed-set-sized; LBFGS re-reads it per iteration
    )
    try:
        counts = assembled.agg(
            F.sum(F.col("_y")).cast("bigint").alias("p"),
            F.sum(F.lit(1) - F.col("_y")).cast("bigint").alias("n"),
        ).collect()[0]  # bounded: one 2-field row (class balance)
        n_pos, n_neg = int(counts["p"] or 0), int(counts["n"] or 0)
        if n_pos == 0 or n_neg == 0:
            raise ValueError(
                "fit_quality_classifier_ngrams: need both classes in "
                f"the labeled seed set (got {n_pos} positive / "
                f"{n_neg} negative)"
            )
        model = LogisticRegression(
            featuresCol="features",
            labelCol="_y",
            maxIter=max_iter,
            regParam=reg_param,
            standardization=True,
            family="binomial",
        ).fit(assembled)
    finally:
        assembled.unpersist()
    coefs = model.coefficients.toArray()
    # Both modes fit at compact dim len(vocab); export each
    # coefficient under its ORIGINAL feature key (bucket id / string).
    weights = {
        f: round(float(coefs[i]) * 1000) for i, f in enumerate(vocab)
    }
    return NgramQualityClassifier(
        bias_milli=round(float(model.intercept) * 1000),
        weights=weights,
        num_buckets=num_buckets,
        bigrams=bigrams,
        n_pos=n_pos,
        n_neg=n_neg,
    )


def ngram_weight_table(spark, clf: NgramQualityClassifier) -> DataFrame:
    """The model's milli weights as a ``(feat, _w)`` DataFrame — at
    most ``len(clf.weights)`` rows, model-sized never corpus-sized.
    Values are validated and normalized exactly like
    :func:`quality_logit`'s guard (r13 advice, same contract): any
    integral type (int, numpy integer) is accepted and coerced to
    Python int; bools and floats are refused loudly — a float milli
    weight would silently truncate under the bigint sum."""
    import numbers

    bad = {
        k: v
        for k, v in clf.weights.items()
        if isinstance(v, bool) or not isinstance(v, numbers.Integral)
    }
    if bad:
        raise ValueError(
            "ngram_weight_table: weights are integer milli-units by "
            f"contract; got non-integer values {bad!r}. Quantize "
            "first (round(w * 1000))."
        )
    if clf.num_buckets is None:
        return spark.createDataFrame(
            sorted((str(k), int(v)) for k, v in clf.weights.items()),
            "feat string, _w long",
        )
    return spark.createDataFrame(
        sorted((int(k), int(v)) for k, v in clf.weights.items()),
        "feat long, _w long",
    )


def score_with_ngram_classifier(
    docs: DataFrame,
    clf: NgramQualityClassifier,
    keep_threshold_milli: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights_df: DataFrame | None = None,
) -> DataFrame:
    """Apply a fitted n-gram quality model in pure-JVM integer
    arithmetic: explode the document's unigrams+bigrams, hash to the
    model's bucket space (or keep the string in exact mode),
    broadcast-join the milli weight table (at most
    ``len(clf.weights)`` rows — model-sized, never corpus-sized), and
    sum per document. Output: ``(id_col, n_features, logit_milli,
    keep)`` where ``n_features`` counts the occurrences matched by
    the model's vocabulary (the DSIR ``n_features`` semantics) and
    ``logit_milli = bias + sum of matched milli weights`` — BIGINT
    end to end, bit-identical across engines (the
    :func:`quality_logit` contract extended to content features).

    Scale shape: one corpus scan + generate, one broadcast hash join,
    one partial-aggregated shuffle keyed by document, one
    column-pruned id scan for the zero-match left join. No float, no
    UDF, no driver-side loop.

    ``weights_df`` lets a long-lived caller (the streaming scorer)
    build the weight table ONCE with :func:`ngram_weight_table` and
    reuse it across applications — without it, every call pays the
    driver-side sort + Python-to-JVM materialization of the model's
    weights, which at fastText bucket counts is real per-trigger
    work."""
    if not isinstance(clf, NgramQualityClassifier):
        raise TypeError(
            "score_with_ngram_classifier: clf must be an "
            f"NgramQualityClassifier, got {type(clf).__name__}"
        )
    import numbers

    if isinstance(clf.bias_milli, bool) or not isinstance(
        clf.bias_milli, numbers.Integral
    ):
        raise ValueError(
            "score_with_ngram_classifier: bias_milli is an integer "
            f"milli-unit by contract; got {clf.bias_milli!r}"
        )
    wt = (
        weights_df
        if weights_df is not None
        else ngram_weight_table(docs.sparkSession, clf)
    )
    occ = ngram_occurrences(
        docs, text_col, id_col,
        num_buckets=clf.num_buckets, bigrams=clf.bigrams,
    )
    agg = (
        occ.join(F.broadcast(wt), "feat")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_nf"),
            F.sum("_w").cast("bigint").alias("_s"),
        )
    )
    return (
        docs.select(id_col)
        .join(agg, F.col(id_col) == F.col("doc"), "left")
        .select(
            id_col,
            F.coalesce(F.col("_nf"), F.lit(0))
            .cast("bigint")
            .alias("n_features"),
            (
                F.coalesce(F.col("_s"), F.lit(0))
                + F.lit(int(clf.bias_milli))
            )
            .cast("bigint")
            .alias("logit_milli"),
        )
        .withColumn(
            "keep",
            F.col("logit_milli") >= F.lit(int(keep_threshold_milli)),
        )
    )


def save_ngram_classifier(
    spark, clf: NgramQualityClassifier, path: str
) -> None:
    """Persist weights + meta as ONE atomic whole-directory swap
    (``staged_overwrite_dir`` — the same no-mixed-generation contract
    as the text/phrase/importance indexes: a crash can never pair new
    weights with old meta). Bucket ids are stored as decimal strings
    so the weights part has one schema in both modes; ``load`` casts
    back using the meta's ``num_buckets``."""
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    weights_df = spark.createDataFrame(
        [(str(k), int(v)) for k, v in sorted(clf.weights.items())],
        "feat string, w_milli long",
    ).coalesce(1)
    meta_df = spark.createDataFrame(
        [
            (
                int(clf.bias_milli),
                None if clf.num_buckets is None else int(clf.num_buckets),
                bool(clf.bigrams),
                int(clf.n_pos),
                int(clf.n_neg),
            )
        ],
        "bias_milli long, num_buckets long, bigrams boolean, "
        "n_pos long, n_neg long",
    ).coalesce(1)
    staged_overwrite_dir(
        spark, {"weights": (weights_df, None), "meta": (meta_df, None)}, path
    )


def load_ngram_classifier(spark, path: str) -> NgramQualityClassifier:
    """Reopen a saved n-gram classifier; recovers a crashed mid-swap
    save first (the ``load_importance_model`` contract)."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    recover_staged(spark, path)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    num_buckets = (
        None if meta["num_buckets"] is None else int(meta["num_buckets"])
    )
    rows = spark.read.parquet(f"{path}/weights").collect()
    if num_buckets is None:
        weights = {r["feat"]: int(r["w_milli"]) for r in rows}
    else:
        weights = {int(r["feat"]): int(r["w_milli"]) for r in rows}
    return NgramQualityClassifier(
        bias_milli=int(meta["bias_milli"]),
        weights=weights,
        num_buckets=num_buckets,
        bigrams=bool(meta["bigrams"]),
        n_pos=int(meta["n_pos"]),
        n_neg=int(meta["n_neg"]),
    )


#: Demo n-gram model FITTED by :func:`fit_quality_classifier_ngrams`
#: (r14) on the sf0.01 documents table against the ``lang == 'en'``
#: seed labeling — the :data:`TRAINED_QUALITY_WEIGHTS` provenance —
#: in EXACT mode (``num_buckets=None``, ``vocab_size=24``: the 24
#: most document-frequent unigrams+bigrams of the seed set), so the
#: apply side is a replayable integer contract the driver oracle can
#: inline as a VALUES table. They describe THIS synthetic corpus,
#: not quality truth; a real pipeline refits on its own labeled
#: seeds in hashed mode and ships bucket weights instead. The
#: reproducibility test refits and pins these to ±1 milli.
TRAINED_NGRAM_QUALITY_BIAS_MILLI = -189
TRAINED_NGRAM_QUALITY_WEIGHTS = (
    ("a", 73),
    ("agg", -60),
    ("batch", -22),
    ("big", 93),
    ("column", -78),
    ("customer", -140),
    ("data", -33),
    ("filter", -10),
    ("group", 61),
    ("hash", 102),
    ("join", -74),
    ("merge", -41),
    ("order", 183),
    ("part", -37),
    ("query", -129),
    ("row", 3),
    ("scan", -134),
    ("slow", -85),
    ("small", -87),
    ("sort", 89),
    ("spark", 54),
    ("stream", -19),
    ("table", 118),
    ("window", 147),
)


def trained_ngram_classifier() -> NgramQualityClassifier:
    """The committed demo n-gram model as a ready-to-apply
    :class:`NgramQualityClassifier` (class counts from the documented
    sf0.01 ``lang == 'en'`` seed labeling)."""
    return NgramQualityClassifier(
        bias_milli=TRAINED_NGRAM_QUALITY_BIAS_MILLI,
        weights=dict(TRAINED_NGRAM_QUALITY_WEIGHTS),
        num_buckets=None,
        bigrams=True,
        n_pos=218,
        n_neg=282,
    )


def bpe_train(
    docs: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Distributed BPE tokenizer training: ``num_merges`` rounds of
    merge-the-most-frequent-adjacent-pair, the iterative algorithm a
    tokenizer build runs before any pre-training job.

    Scale shape — the classical word-type factorization: state is the
    DISTINCT-WORD table ``(word, count, syms)``, vocabulary-sized, not
    corpus-sized; the corpus is scanned exactly once (to count word
    types). Each round is two jobs over that small table: (1) explode
    weighted adjacent pairs + one groupBy to find the argmax pair
    (ties: count desc, then pair lexicographic — deterministic), a
    single 5-field row collected to the driver (legitimately: it IS the
    algorithm's sequential dependency); (2) a pure-JVM ``aggregate``
    fold that rewrites each word's symbol array with the greedy
    left-to-right non-overlapping merge. ``localCheckpoint`` truncates
    the growing lineage each round — 100 rounds stay O(1) plan depth.

    Returns ``(merges, vocab)``: the ordered merge table
    ``[(round, left, right, merged, n_occurrences)]`` — the tokenizer
    artifact — and the final ``(symbol, n_words, total_count)`` vocab
    DataFrame.
    """
    words = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # split into characters: the initial symbol alphabet (the
        # lookahead also matches at end-of-string, so split leaves a
        # trailing '' — drop it)
        .withColumn(
            "syms",
            F.expr("filter(split(w, '(?!^)'), x -> x != '')"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    state = words
    for rnd in range(1, num_merges + 1):
        pairs = (
            # filter BEFORE the transform: sequence(0, size-2) on a
            # 1-symbol word is sequence(0, -1) which Spark evaluates
            # descending to [0, -1] — garbage pairs, not an empty list
            state.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(syms) - 2), "
                        "i -> struct(syms[i] AS a, syms[i + 1] AS b))"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("cnt").alias("n"))
        )
        top = pairs.orderBy(
            F.desc("n"), F.asc("a"), F.asc("b")
        ).limit(1).collect()
        if not top or top[0]["n"] < 2:
            break
        a, b, n = top[0]["a"], top[0]["b"], int(top[0]["n"])
        merged = a + b
        merges.append((rnd, a, b, merged, n))
        # greedy left-to-right non-overlapping merge as a pure-JVM fold:
        # append x unless the running tail equals `a` and x equals `b`,
        # in which case replace the tail with the merged symbol. The
        # merged tail never re-merges in the same round (it no longer
        # equals `a` unless a+b == a, impossible for non-empty b).
        state = state.select(
            "w",
            "cnt",
            F.expr(
                "aggregate(syms, CAST(array() AS ARRAY<STRING>), "
                "(acc, x) -> IF(size(acc) > 0 "
                f"AND element_at(acc, -1) = {_sql_str(a)} "
                f"AND x = {_sql_str(b)}, "
                f"concat(slice(acc, 1, size(acc) - 1), "
                f"array({_sql_str(merged)})), "
                "concat(acc, array(x))))"
            ).alias("syms"),
        ).localCheckpoint()
    vocab = (
        state.select("cnt", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("cnt").cast("bigint").alias("total_count"),
        )
    )
    return merges, vocab


def _sql_str(s: str) -> str:
    """SQL single-quoted string literal (escape embedded quotes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table (``bpe_train``'s first return
    value) to a corpus: per document, the BPE token count and the
    distinct-symbol count under the learned vocabulary.

    Word-type factorization again: each DISTINCT word is encoded once
    (an Arrow-batched kernel applying the merge list in training order
    — the standard sequential dependency of BPE encoding; ~|word| work
    per merge), then the per-type token counts join back to the corpus
    by word. At 100 TB the encode cost is |vocabulary| x |merges|, not
    |corpus|; the join back is left to AQE, which broadcasts the
    word-type table when its runtime size fits and falls back to a
    shuffle join for huge vocabularies (a forced broadcast hint would
    OOM there).

    Output: (doc_id, n_words, n_bpe_tokens) — the compression ratio
    n_words/n_bpe_tokens is the usual tokenizer-quality readout.
    """
    merge_seq = [(m[1], m[2]) for m in merges]

    @F.pandas_udf("long")
    def encode_len(words):
        def enc(w):
            if w is None:
                return 0
            syms = list(w)
            for a, b in merge_seq:
                out = []
                for x in syms:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                syms = out
            return len(syms)

        return words.map(enc)

    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).filter(F.col("w") != "")
    types = toks.select("w").distinct().withColumn(
        "n_syms", encode_len(F.col("w"))
    )
    return (
        toks.join(types, "w")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
        )
    )


#: Gopher quality-rule stopword presence set (Rae et al. 2021, table A1:
#: a document must contain >= 2 of these to pass). Presence, not count.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, published
    rule set): word-count bounds, mean word length in [3, 10], symbol-
    to-word ratio <= 0.1 (hash/ellipsis), <= 90% bullet lines, <= 30%
    ellipsis-ended lines, >= 80% words containing a letter, and >= 2
    distinct presence-set stopwords. Boundary semantics follow the
    paper: only documents strictly BEYOND a threshold are removed, so
    a document exactly on a boundary passes.

    Every threshold is evaluated in INTEGER arithmetic (e.g. mean word
    length in [3,10] as ``3*n_words <= n_nonspace <= 10*n_words``), so
    the pass verdict is bit-exact across engines and partitionings —
    no double division sits under a comparison. The reported ratio
    columns are rounded doubles for human use only.

    Documented deviation from the paper: "mean word length" is
    computed as non-space characters / words, which counts punctuation
    characters in the numerator (the paper's tokenizer is unpublished;
    this definition is deterministic and tokenizer-free).

    One projection over the scan — no joins, no shuffles, no Python;
    at 100 TB this filter runs at parquet-scan speed.
    """
    t = F.col(text_col)
    low = F.lower(t)
    n_words = F.size(F.split(t, TOKEN_SPLIT)).cast("bigint")
    n_nonspace = F.length(F.regexp_replace(t, r"\s+", "")).cast("bigint")
    n_symbols = F.size(
        F.regexp_extract_all(t, F.lit(r"#|\.\.\.|…"), 0)
    ).cast("bigint")
    lines = F.split(t, "\n")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda x: x.rlike(r"^\s*[-*•]"))
    ).cast("bigint")
    n_ellipsis = F.size(
        F.filter(lines, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
    ).cast("bigint")
    n_alpha = F.size(
        F.filter(F.split(low, TOKEN_SPLIT), lambda x: x.rlike("[a-z]"))
    ).cast("bigint")
    n_stop = sum(
        low.rlike(rf"\b{w}\b").cast("bigint") for w in GOPHER_STOPWORDS
    )
    # Rae et al. remove documents strictly ABOVE each ratio threshold
    # (resp. strictly below the alpha floor), so a document sitting
    # exactly on a published boundary (symbol ratio exactly 0.1, 90%
    # bullet lines, 30% ellipsis lines, 80% alpha words) PASSES —
    # hence <= / >= at the boundaries, still in pure integer form.
    passes = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (3 * n_words <= n_nonspace)
        & (n_nonspace <= 10 * n_words)
        & (10 * n_symbols <= n_words)
        & (10 * n_bullet <= 9 * n_lines)
        & (10 * n_ellipsis <= 3 * n_lines)
        & (5 * n_alpha >= 4 * n_words)
        & (n_stop >= 2)
    )
    return docs.select(
        id_col,
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        F.round(n_nonspace / n_words, 4).alias("mean_word_chars"),
        F.round(n_symbols / n_words, 6).alias("symbol_word_ratio"),
        F.round(n_bullet / n_lines, 6).alias("frac_bullet_lines"),
        F.round(n_ellipsis / n_lines, 6).alias("frac_ellipsis_lines"),
        F.round(n_alpha / n_words, 6).alias("frac_alpha_words"),
        n_stop.alias("n_stop_present"),
        passes.alias("passes"),
    )


def unigram_surprisal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM commonness score, trained on the corpus itself: each
    token contributes ``floor(log2(corpus_frequency))`` and documents
    aggregate the sum/mean — a rare-token document scores low, the
    shape of a KenLM-perplexity prefilter without a model artifact.

    ``floor(log2(n))`` on integer n is the bit length minus one —
    exact in both engines (log2 is exact at powers of two, the only
    floor boundaries), so the score is integer-deterministic where a
    true ``ln(p)`` sum would drift per partitioning.

    Plan: explode tokens in the scan stage; the frequency table is
    vocabulary-sized (heavy-tail collapses under map-side partial
    agg); tokens rejoin frequencies on the token key — AQE broadcasts
    the vocabulary when it fits, else a co-keyed shuffle join — and
    the per-doc aggregate partials map-side. Nothing is quadratic, no
    Python in the loop.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias(
            "tok"
        ),
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(freq, "tok")
        .withColumn(
            "bits", F.floor(F.log2(F.col("cnt"))).cast("bigint")
        )
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("bits").alias("sum_log2_freq"),
            F.round(
                F.sum("bits") / F.count(F.lit(1)), 4
            ).alias("avg_log2_freq"),
        )
    )


def bigrams_from_tokens(token_col: str) -> Column:
    """Adjacent word-pair array (" "-joined, NON-distinct — a bag, not
    the shingle set) from a *materialized* token-array column, built
    ARRAY-SIDE: one ``zip_with`` of the array against its own tail — no
    positional self-join, no window shuffle, and no per-element
    ``element_at`` over an inlined split (the O(tokens^2) trap in the
    ``shingles_from_tokens`` PERF note). The ONE bigram definition
    shared by the surprisal family and the DSIR feature space.

    Guard size>=2: ``slice()`` with non-positive length misbehaves on
    shorter docs."""
    w = F.col(token_col)
    return F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _exploded_bigrams(
    docs: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """(doc, bigram) rows via :func:`bigrams_from_tokens`, the token
    array materialized in its own projection first."""
    return docs.select(
        F.col(id_col).alias("doc"),
        F.split(F.lower(F.col(text_col)), TOKEN_SPLIT).alias("_w"),
    ).select("doc", F.explode(bigrams_from_tokens("_w")).alias("bigram"))


def bigram_freq_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    _bg: DataFrame | None = None,
) -> DataFrame:
    """The floored (bigram, cnt) frequency table
    :func:`bigram_surprisal` LEFT-JOINs back onto the corpus. Exposed
    so the bench can track its ROW COUNT across scales: the join stays
    a broadcast only while this table is small, and the bigram vocab
    grows with the corpus — recording the count makes the
    broadcast-to-shuffle crossover visible before it hurts
    (r6 VERDICT #8)."""
    bg = _bg if _bg is not None else _exploded_bigrams(docs, text_col, id_col)
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


def bigram_surprisal(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
) -> DataFrame:
    """Bigram-LM commonness score — the conditional-context step up
    from :func:`unigram_surprisal` (the CCNet/KenLM quality-filter
    shape: a document of individually-common words in never-seen
    combinations scores low here but high on unigrams).

    Each adjacent token pair contributes
    ``floor(log2(corpus_bigram_frequency))`` — exact integers in both
    engines for the same reason as the unigram scorer — and documents
    aggregate sum/mean over their ``n_tokens - 1`` bigrams. Documents
    with fewer than two tokens emit zero bigrams and drop out (no
    0/0 row).

    Plan: bigrams are built ARRAY-SIDE in the scan stage — the token
    array materialized in its own projection, then one ``zip_with``
    of the array against its own tail (no positional self-join, no
    window shuffle, and no per-element ``element_at`` over an inlined
    split, the O(tokens^2) trap in the ``shingles_from_tokens`` PERF
    note — the rewrite cut the sf0.1 build from 4.6 s to 0.3 s).

    ``min_count`` floors the frequency table before the rejoin:
    bigrams seen fewer times score a default 0 bits via LEFT JOIN +
    COALESCE. At the default ``min_count=2`` this is EXACT — a
    singleton's true score is ``floor(log2(1)) = 0`` — while dropping
    the hapax tail, the bulk of any heavy-tailed bigram vocabulary,
    from the joined table (typically making it broadcastable).
    ``min_count > 2`` trades exactness (scores in
    ``[1, log2(min_count))`` collapse to 0) for a smaller table.
    """
    bg = _exploded_bigrams(docs, text_col, id_col)
    freq = bigram_freq_table(docs, text_col, id_col, min_count, _bg=bg)
    zero = F.lit(0).cast("bigint")
    return (
        bg.join(freq, "bigram", "left")
        .withColumn(
            "bits",
            F.coalesce(F.floor(F.log2(F.col("cnt"))).cast("bigint"), zero),
        )
        .groupBy(F.col("doc").alias(id_col))
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("bits").alias("sum_log2_freq"),
            F.round(F.sum("bits") / F.count(F.lit(1)), 4).alias(
                "avg_log2_freq"
            ),
        )
    )


class TextIndex:
    """A built BM25 index: full-vocabulary postings + corpus stats.

    ``postings`` is (term, pbucket, <id>, tf, dl) — at scale persist it
    PARTITIONED BY ``pbucket`` (a 64-way hash of the term) so a search
    touching q terms reads at most q bucket directories instead of the
    corpus; the stats are two ints every search embeds as literals.
    """

    def __init__(
        self, postings: DataFrame, n_docs: int, t_tokens: int,
        id_col: str = "doc_id",
    ) -> None:
        self.postings = postings
        self.n_docs = int(n_docs)
        self.t_tokens = int(t_tokens)
        self.id_col = id_col


_PBUCKETS = 64


def build_text_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> TextIndex:
    """Tokenize the corpus ONCE into full-vocabulary postings — the
    build half of the BM25 build/search split (same economics as the
    IVF index: repeated queries stop re-exploding the corpus). One
    explode + one (doc, term) groupBy; the postings table is bounded by
    distinct (doc, term) pairs, always <= total tokens."""
    srow = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(token_count(F.col(text_col))).cast("bigint").alias(
            "t_tokens"
        ),
    ).collect()[0]
    toks = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    postings = (
        toks.groupBy(id_col, "term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("tf"),
            F.max("dl").alias("dl"),
        )
        .withColumn(
            "pbucket", F.pmod(F.xxhash64("term"), F.lit(_PBUCKETS))
        )
    )
    return TextIndex(
        postings, int(srow["n_docs"]), int(srow["t_tokens"] or 0), id_col
    )


def save_text_index(index: TextIndex, path: str) -> None:
    """Persist: postings partitioned by pbucket (a q-term search prunes
    to <= q of the 64 directories), stats as a 1-row parquet. The PAIR
    goes through ``staged_overwrite_dir`` as ONE atomic swap (r12
    review: two independent per-part swaps left a crash window where
    new postings paired with stale stats, silently skewing BM25
    idf/avgdl on the reopened index). The whole-directory staging also
    keeps re-save-to-same-path safe: a reopened index's postings are a
    lazy scan of ``{path}/postings``, untouched until the new
    generation is fully written."""
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    spark = index.postings.sparkSession
    staged_overwrite_dir(
        spark,
        {
            "postings": (index.postings, ["pbucket"]),
            "stats": (
                spark.createDataFrame(
                    [(index.n_docs, index.t_tokens, index.id_col)],
                    "n_docs long, t_tokens long, id_col string",
                ).coalesce(1),
                None,
            ),
        },
        path,
    )


def load_text_index(spark, path: str) -> TextIndex:
    """Reopen a saved index; postings stay a lazy partitioned scan so a
    search's pbucket filter becomes partition pruning. Calls
    ``recover_staged`` on the index directory first (the
    whole-directory save stages the PAIR as one swap) so a save that
    crashed mid-swap reopens the intact previous generation."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    recover_staged(spark, path)
    row = spark.read.parquet(f"{path}/stats").collect()[0]
    return TextIndex(
        spark.read.parquet(f"{path}/postings"),
        row["n_docs"], row["t_tokens"], row["id_col"],
    )


def bm25_search(
    index: TextIndex,
    query_terms: list[str],
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
    exact_ppm: bool = True,
) -> DataFrame:
    """Search a built index: filter postings to the query's terms —
    pbucket equality first (partition pruning on a saved index), then
    the term itself — and run the SAME scoring tail as
    :func:`bm25_topk`, so index-backed rankings are bit-identical to
    the one-shot path (property-tested)."""
    terms = [t.lower() for t in query_terms]
    import pyspark.sql.functions as _F

    buckets = sorted(
        {
            r["b"]
            for r in index.postings.sparkSession.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(
                _F.pmod(_F.xxhash64("term"), _F.lit(_PBUCKETS)).alias("b")
            )
            .collect()
        }
    )
    tf = index.postings.filter(
        F.col("pbucket").isin(buckets) & F.col("term").isin(terms)
    ).drop("pbucket")
    return _bm25_rank(
        tf, index.n_docs, index.t_tokens, k, k1_tenths, b_hundredths,
        exact_ppm, index.id_col,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion — the standard hybrid-retrieval combiner
    (lexical BM25 + vector ANN, or any mix of rankers): each list
    contributes ``1/(k + rank)`` per document, summed across lists.

    Scored in exact integer millionths — ``1_000_000 DIV (k + rank)``
    — so fused scores and the resulting order are bit-identical across
    engines (the float form ties-breaks on representation noise).
    Final ties break on (fewer lists is worse, then lowest id),
    documented and deterministic.

    Plan: union the (id, rank) lists (each is top-k-sized, tiny next
    to any corpus), one groupBy(id) sum — map-side combinable — and
    one window for the fused rank over the union-of-top-k rows only;
    the corpora behind the rankers are never touched here.
    """
    if not rankings:
        raise ValueError("rrf_fuse: at least one ranking is required")
    tagged = [
        r.select(
            F.col(id_col).alias("__id"),
            F.expr(f"1000000 DIV ({k} + {rank_col})")
            .cast("bigint")
            .alias("__c"),
        )
        # one contribution per document PER LIST (the documented
        # contract): a list carrying a duplicate id keeps its best
        # rank's contribution instead of silently double-counting and
        # inflating the n_lists tie-break
        .groupBy("__id")
        .agg(F.max("__c").alias("__c"))
        for r in rankings
    ]
    u = tagged[0]
    for t in tagged[1:]:
        u = u.unionByName(t)
    fused = u.groupBy(F.col("__id").alias(id_col)).agg(
        F.sum("__c").alias("rrf_ppm"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.orderBy(
        F.desc("rrf_ppm"), F.desc("n_lists"), F.asc(id_col)
    )
    out = fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("bigint")
    )
    if top is not None:
        out = out.filter(F.col("fused_rank") <= top)
    return out.select(id_col, "n_lists", "rrf_ppm", "fused_rank")


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: what fraction (exact ppm integer)
    of a document's distinct word n-grams appear in NO other document —
    the diversity/boilerplate signal dual to the dedup family (near-dup
    detection asks "which pair overlaps"; novelty asks "how much of
    this doc is corpus-unique", the score a curation pass uses to
    up-weight fresh material or flag template spam whose novelty ~ 0).

    Plan (join-free on the occurrence set): the shared shingle kernel
    (``doc_shingles`` — distinct n-grams per doc, array-side) explodes
    once; ONE map-side-combinable groupBy on the shingle computes
    ``(df, min(doc))`` — count equals document frequency because
    shingles are per-doc distinct, and a df = 1 shingle belongs to
    EXACTLY one document, so ``min(doc)`` is its owner; per-doc totals
    come from the PRE-explode array size, so the whole plan has ONE
    explode (plan-pinned). Unique counts then aggregate doc-keyed from
    the df = 1 rows and join the per-doc shingle totals — two
    doc-sized frames, never a shingle-keyed join of the full
    occurrence set (the occurrence-join formulation measured 0.87 s
    marginal per added corpus copy; this shape measures a CONSTANT
    0.68 — isolated 1×/3×/10× = 1.62/2.99/7.74 s, fixed ~0.95 s,
    marginal flat step-over-step: exactly linear). All counts BIGINT;
    ``novelty_ppm``
    is ``n_unique·1e6 DIV n_shingles`` — pure integer arithmetic,
    exact in any engine. Documents with fewer than ``n`` tokens have
    no shingles and are absent from the output (no evidence either
    way — the ``unigram_surprisal`` NULL-text convention)."""
    sh = doc_shingles(docs, text_col, id_col, n)
    ex = sh.select("doc", F.explode("shingles").alias("shingle"))
    # per-doc totals come from the PRE-explode array size — no second
    # explode (the shingle build is the dominant linear cost) and no
    # doc-keyed shuffle of the occurrence set; the size>0 filter keeps
    # the absent-short-docs convention the explode branch has anyway
    totals = sh.filter(F.size("shingles") > 0).select(
        "doc", F.size("shingles").cast("bigint").alias("n_shingles")
    )
    uniques = (
        ex.groupBy("shingle")
        .agg(
            F.count(F.lit(1)).alias("_df"),
            F.min("doc").alias("doc"),
        )
        .filter(F.col("_df") == 1)
        .groupBy("doc")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_unique"))
    )
    return (
        totals.join(uniques, "doc", "left")
        .withColumn("n_unique", F.coalesce(F.col("n_unique"), F.lit(0)))
        .select(
            F.col("doc").alias(id_col),
            "n_shingles",
            F.col("n_unique").cast("bigint").alias("n_unique"),
            F.expr("(n_unique * 1000000) DIV n_shingles").alias(
                "novelty_ppm"
            ),
        )
    )


def phrase_match(
    docs: DataFrame,
    phrase: str | list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact consecutive-token phrase search — the retrieval capability
    the bag-of-words rankers (``tfidf_top_terms``, ``bm25_topk``)
    cannot express: "table hash" must match only where the tokens are
    ADJACENT IN ORDER, not wherever both occur. Returns one row per
    matching document: ``(id_col, n_matches, first_pos)`` with
    positions 1-based in token offsets.

    Plan: ONE scan, zero shuffles, zero UDFs — the token array is
    materialized once per row and a single array-side ``filter`` over
    the candidate start positions tests all ``k`` terms with
    ``element_at`` (k comparisons per position, whole-stage codegen).
    At 100 TB this is the same cost class as any columnar predicate;
    for repeated phrase workloads build the positional structure once
    instead of rescanning (the ``TextIndex`` build/search economics) —
    this operator is the scan-side primitive and the verification
    twin.

    Guard (load-bearing): ``sequence(1, size-k+1)`` DESCENDS in Spark
    when the stop is below the start, so a doc shorter than the phrase
    would yield bogus candidate positions — short docs take the empty
    array branch explicitly."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms]
    if not terms:
        raise ValueError("phrase_match: phrase is empty")
    k = len(terms)
    w = F.col("_w")

    def hit(i: Column) -> Column:
        cond = F.lit(True)
        for j, t in enumerate(terms):
            cond = cond & (
                F.element_at(w, (i + j).cast("int")) == F.lit(t)
            )
        return cond

    starts = F.when(
        F.size(w) >= k,
        F.filter(F.sequence(F.lit(1), F.size(w) - k + 1), hit),
    ).otherwise(F.array().cast("array<int>"))
    return (
        docs.select(
            F.col(id_col),
            F.split(F.lower(F.col(text_col)), TOKEN_SPLIT).alias("_w"),
        )
        .select(F.col(id_col), starts.alias("_starts"))
        .filter(F.size("_starts") > 0)
        .select(
            id_col,
            F.size("_starts").cast("bigint").alias("n_matches"),
            F.element_at("_starts", 1).cast("bigint").alias("first_pos"),
        )
    )


class PhraseIndex:
    """Positional postings for repeated phrase workloads: one row per
    (doc, term) with the term's 1-based position list — the build half
    of the phrase build/search split (``phrase_match`` is the
    scan-side twin and the verification oracle)."""

    def __init__(self, postings: DataFrame, id_col: str = "doc_id"):
        self.postings = postings
        self.id_col = id_col


def build_phrase_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = False,
) -> PhraseIndex:
    """Tokenize the corpus ONCE into positional postings (the
    ``TextIndex`` economics: repeated phrase queries stop re-scanning
    the text). One posexplode + one (doc, term) groupBy; positions are
    1-based (``phrase_match``'s convention) and sorted, so downstream
    intersections inherit ascending order. ``pbucket`` is the 64-way
    term-hash partition key — a k-term phrase search prunes the
    persisted scan to ≤ k of 64 directories.

    ``materialize=True`` runs the build NOW (``localCheckpoint``, the
    ``fit_importance_model`` fit-once pattern) so a k-term
    :func:`phrase_search_indexed` on an index that was never saved
    reads the computed postings k times instead of re-running the
    tokenize + groupBy once per phrase term. Leave it False when the
    very next step is :func:`save_phrase_index` — the save itself
    executes the build exactly once and reopening gives a plain scan,
    so a checkpoint would only duplicate the work."""
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens(F.lower(F.col(text_col)))).alias(
            "pos", "term"
        ),
    )
    postings = (
        toks.groupBy(id_col, "term")
        .agg(
            F.sort_array(F.collect_list(F.col("pos") + 1)).alias(
                "positions"
            )
        )
        .withColumn(
            "pbucket", F.pmod(F.xxhash64("term"), F.lit(_PBUCKETS))
        )
    )
    if materialize:
        postings = postings.localCheckpoint()
    return PhraseIndex(postings, id_col)


def save_phrase_index(index: PhraseIndex, path: str) -> None:
    """Persist partitioned by ``pbucket`` so a reopened search's bucket
    filter becomes partition pruning, plus a 1-row stats parquet with
    the id column name (the ``save_text_index`` layout — without it a
    non-default ``id_col`` index would silently reopen broken).

    The PAIR goes through ``staged_overwrite_dir`` as ONE atomic swap
    (r12 review: per-part swaps left a new-postings/stale-stats crash
    window — here a stale ``id_col`` reopens the index against the
    wrong key column). Whole-directory staging keeps re-save-to-same-
    path safe too: a reopened index's postings are a lazy scan of
    ``{path}/postings``, untouched until the new generation is fully
    written — the ``save_importance_model`` hazard, same fix."""
    from sales_data_warehouse_spark.sources.compaction import (
        staged_overwrite_dir,
    )

    spark = index.postings.sparkSession
    staged_overwrite_dir(
        spark,
        {
            "postings": (index.postings, ["pbucket"]),
            "stats": (
                spark.createDataFrame(
                    [(index.id_col,)], "id_col string"
                ).coalesce(1),
                None,
            ),
        },
        path,
    )


def load_phrase_index(spark, path: str) -> PhraseIndex:
    """Reopen a saved index; the postings stay a lazy partitioned scan
    and the id column name comes from the persisted stats. Calls
    ``recover_staged`` on the index directory first (the save stages
    the pair as one swap), so a save that crashed mid-swap reopens the
    intact previous generation."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    recover_staged(spark, path)
    row = spark.read.parquet(f"{path}/stats").collect()[0]
    return PhraseIndex(
        spark.read.parquet(f"{path}/postings"), row["id_col"]
    )


def phrase_search_indexed(
    index: PhraseIndex,
    phrase: str | list[str],
) -> DataFrame:
    """Phrase search over the positional index — must return EXACTLY
    ``phrase_match``'s rows (the suite pins indexed ≡ scan on real
    documents, duplicate-term phrases included).

    Plan: per phrase term one filtered slice of the postings —
    ``pbucket`` equality FIRST (computed to literals driver-side, the
    ``bm25_search`` pattern: a data-side ``term = t`` filter alone
    cannot be turned into partition pruning, measured
    ``PartitionFilters: []``), then the term itself — inner-joined on
    the doc id, then pure array arithmetic: term j's positions shift
    by −j and the running ``array_intersect`` leaves exactly the
    1-based start offsets where every term matches in order. Join
    fan-in is k doc-keyed frames each ≤ corpus-docs rows — no
    positional explode, no shuffle of raw text.

    On an UNSAVED, UNMATERIALIZED index the postings are a lazy plan
    and each of the k sides re-runs the build —
    ``build_phrase_index(..., materialize=True)`` checkpoints the
    postings so they compute once, and ``save``/``load`` is the
    durable equivalent for repeated workloads; the build exists to be
    amortized, not re-run per term."""
    terms = phrase.split() if isinstance(phrase, str) else list(phrase)
    terms = [t.lower() for t in terms]
    if not terms:
        raise ValueError("phrase_search_indexed: phrase is empty")
    id_col = index.id_col
    spark = index.postings.sparkSession
    bucket_of = {
        r["term"]: r["b"]
        for r in spark.createDataFrame(
            [(t,) for t in set(terms)], "term string"
        )
        .select(
            "term",
            F.pmod(F.xxhash64("term"), F.lit(_PBUCKETS)).alias("b"),
        )
        .collect()
    }
    # Every side's columns (INCLUDING the join key) are renamed per
    # term BEFORE joining: the k sides are slices of the SAME postings
    # frame, and a USING-style self-join lets Spark conflate the
    # per-term filters (observed: term='table' AND term='hash'
    # collapsing to an empty result). Distinct names per side make the
    # plans unambiguous by construction.
    def _shift(offset: int):
        # a dedicated factory, NOT `lambda x, _j=j`: pyspark counts the
        # lambda's parameters to pick the unary vs (element, index)
        # form, so a defaulted second parameter silently becomes the
        # ARRAY INDEX and the shift evaluates as x - position_in_array
        return lambda x: x - F.lit(offset)

    sides = []
    for j, t in enumerate(terms):
        sides.append(
            index.postings.filter(
                (F.col("pbucket") == F.lit(int(bucket_of[t])))
                & (F.col("term") == t)
            ).select(
                F.col(id_col).alias(f"_d{j}"),
                F.transform("positions", _shift(j)).alias(f"_p{j}"),
            )
        )
    joined = sides[0]
    for j in range(1, len(terms)):
        joined = joined.join(
            sides[j], F.col("_d0") == F.col(f"_d{j}")
        )
    starts = F.col("_p0")
    for j in range(1, len(terms)):
        starts = F.array_intersect(starts, F.col(f"_p{j}"))
    return (
        joined.withColumn("_starts", starts)
        .filter(F.size("_starts") > 0)
        .select(
            F.col("_d0").alias(id_col),
            F.size("_starts").cast("bigint").alias("n_matches"),
            F.array_min("_starts").cast("bigint").alias("first_pos"),
        )
    )
