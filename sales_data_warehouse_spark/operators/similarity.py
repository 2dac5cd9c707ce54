"""Similarity search over embedding columns (``array<float>``).

Paths:
  * ``brute_force_topk`` — exact cosine top-k; the correctness baseline.
    Distributed block GEMM: queries and corpus are hash-split into row
    blocks, every (query-block, corpus-block) task scores its tile with
    one vectorized float64 kernel inside ``applyInPandas``, emits per-
    query partial top-k, and a final window keeps the global top-k.
    Nothing is ever collected to the driver; wall-clock scales with
    |q|x|c| / cluster-cores and shuffle volume with |q|*Bc + |c|*Bq.
  * ``lsh_topk`` — random-hyperplane bucketing: corpus hashed once to
    sign-bit buckets, queries probe only their bucket. Sub-linear
    candidates at 100 TB; recall tuned by ``num_planes``.
  * ``build_ivf_index`` / ``ivf_search`` — IVF coarse quantizer with a
    real build/search split: the index (cell assignments + centroid
    table) is built once and persisted; searches probe ``nprobe`` cells
    without retraining.

Numeric discipline: dot products accumulate in *sequential* element
order (``acc += x_d * y_d`` for d = 0..dim-1) in float64 — bit-identical
to both the JVM higher-order-function formulation and DuckDB's
LIST_DOT_PRODUCT, so rankings and ties agree exactly with the SQL
oracle. The interpreted HOF dot (~100 ns/element) survives only on O(n)
norm/bucket computations, never on candidate-pair paths.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_data_warehouse_spark.operators.caching import (
    multi_consumer_cache as _mcc,
    release_cache_with as _release_with,
)


def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (deterministic order).

    Interpreted per element — fine on O(n) paths (norms, bucket
    signatures), never to be used per candidate pair."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _rowwise_cosine(qv: Column, cv: Column) -> Column:
    """Arrow-batched exact cosine for already-materialized candidate
    pairs — the rerank kernel for LSH/IVF. Sequential-order float64
    accumulation: bit-identical to the HOF/SQL formulation, ~100x
    faster (one vectorized pass per Arrow batch instead of an
    interpreted expression tree per element)."""

    @F.pandas_udf("double")
    def _cos(q, c):
        import numpy as np
        import pandas as pd

        if not len(q):
            return pd.Series([], dtype="float64")

        def dense(qm, cm):
            n, dim = qm.shape
            dot = np.zeros(n)
            qq = np.zeros(n)
            cc = np.zeros(n)
            for d in range(dim):
                dot += qm[:, d] * cm[:, d]
                qq += qm[:, d] * qm[:, d]
                cc += cm[:, d] * cm[:, d]
            return dot / (np.sqrt(qq) * np.sqrt(cc))

        qa, ca = q.to_numpy(), c.to_numpy()
        try:
            # fast path: clean fixed-dim batch stacks directly (an
            # all-NULL batch stacks to 1-D without raising — the ndim
            # guard routes it to the fallback; two sides stacking to
            # DIFFERENT widths — e.g. truncated vs full embeddings —
            # must also fall back, or dense() would silently score the
            # common prefix instead of emitting NULL per the contract)
            qm = np.stack(qa).astype("float64")
            cm = np.stack(ca).astype("float64")
            if qm.ndim != 2 or cm.ndim != 2 or qm.shape != cm.shape:
                raise ValueError("non-rectangular or mismatched batch")
            return pd.Series(dense(qm, cm))
        except (TypeError, ValueError):
            # NULL vectors / ragged dims in the batch: np.stack raises.
            # Propagate NULL per offending row (the HOF-dot contract the
            # vectorized kernel replaced) instead of failing the query;
            # valid rows are re-batched by dimension so a single stray
            # null never degrades the whole batch to per-row work.
            def bad(x, y):
                return (
                    x is None or y is None
                    or len(x) != len(y) or len(x) == 0
                    or pd.isnull(np.asarray(x, dtype="object")).any()
                    or pd.isnull(np.asarray(y, dtype="object")).any()
                )

            from collections import defaultdict

            by_dim: dict[int, list[int]] = defaultdict(list)
            invalid = []
            for i, (x, y) in enumerate(zip(qa, ca)):
                (invalid.append(i) if bad(x, y)
                 else by_dim[len(x)].append(i))
            out = np.full(len(qa), np.nan)
            for idxs in by_dim.values():
                out[np.asarray(idxs)] = dense(
                    np.stack([qa[i] for i in idxs]).astype("float64"),
                    np.stack([ca[i] for i in idxs]).astype("float64"),
                )
            res = pd.Series(out)
            if invalid:
                res.iloc[np.asarray(invalid)] = None
            return res

    return _cos(qv, cv)


def _global_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared final stage: exact top-k per query over (partial) scored
    candidates, deterministic tie-break by neighbor id."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim")
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_block_rows: int = 8192,
    query_block_rows: int = 2048,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, sim). Self-matches excluded.
    Ties broken by neighbor id for determinism.

    Distributed block GEMM: both sides get a hash block id; each side is
    replicated across the other side's blocks (|q|*Bc + |c|*Bq shuffled
    rows), every (qblk, cblk) group scores its tile in one vectorized
    float64 pass and emits per-query top-k *within the tile*; a window
    then keeps the global top-k (any global winner is a tile winner, so
    partial top-k loses nothing). No driver materialization on either
    side, no |q|x|c| pair rows ever hit the shuffle.
    """
    q_id_t = queries.schema[id_col].dataType
    c_id_t = corpus.schema[id_col].dataType
    q = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
    n_q = q.count()
    n_c = c.count()
    bq = max(1, -(-n_q // query_block_rows))
    bc = max(1, -(-n_c // corpus_block_rows))

    # Cogrouped (not unioned) sides: a union would hold NULL in the
    # other side's id column, and Arrow coerces nullable int64 to
    # float64 in pandas — silently rounding ids above 2^53 (xxhash64-
    # style keys). Cogroup keeps each side's columns intact end-to-end.
    qx = q.select(
        "qid",
        F.col("qv").alias("v"),
        F.pmod(F.xxhash64("qid"), F.lit(bq)).cast("int").alias("qblk"),
        F.explode(F.sequence(F.lit(0), F.lit(bc - 1))).alias("cblk"),
    )
    cx = c.select(
        "cid",
        F.col("cv").alias("v"),
        F.explode(F.sequence(F.lit(0), F.lit(bq - 1))).alias("qblk"),
        F.pmod(F.xxhash64("cid"), F.lit(bc)).cast("int").alias("cblk"),
    )

    out_schema = T.StructType(
        [
            T.StructField("query_id", q_id_t),
            T.StructField("neighbor_id", c_id_t),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score_tile(qs, cs):
        import numpy as np
        import pandas as pd

        if not len(qs) or not len(cs):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "sim": []}
            )
        q_ids = qs["qid"].to_numpy()
        c_ids = cs["cid"].to_numpy()
        qm = np.stack(qs["v"].to_numpy()).astype("float64")
        cm = np.stack(cs["v"].to_numpy()).astype("float64")
        dim = qm.shape[1]
        # sequential-order accumulation: bit-identical to the HOF/SQL
        # dot, so full-precision ranking (and ties) match the oracle
        dots = np.zeros((len(qs), len(cs)))
        qn2 = np.zeros(len(qs))
        cn2 = np.zeros(len(cs))
        for d in range(dim):
            dots += np.multiply.outer(qm[:, d], cm[:, d])
            qn2 += qm[:, d] * qm[:, d]
            cn2 += cm[:, d] * cm[:, d]
        sims = dots / np.multiply.outer(np.sqrt(qn2), np.sqrt(cn2))
        # stable per-row top-k: pre-order columns by neighbor id, then a
        # stable sort on -sim keeps id-ascending order among exact ties
        c_order = np.argsort(c_ids, kind="stable")
        c_ids_sorted = c_ids[c_order]
        out_q, out_c, out_s = [], [], []
        for i in range(len(qs)):
            row = sims[i][c_order]
            mask = c_ids_sorted != q_ids[i]
            idx = np.flatnonzero(mask)
            order = idx[np.argsort(-row[idx], kind="stable")][:k]
            out_q.extend([q_ids[i]] * len(order))
            out_c.extend(c_ids_sorted[order])
            out_s.extend(row[order])
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_c, "sim": out_s}
        )

    partials = (
        qx.groupBy("qblk", "cblk")
        .cogroup(cx.groupBy("qblk", "cblk"))
        .applyInPandas(score_tile, schema=out_schema)
    )
    return _global_topk(partials, k)


def _planes(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (fixed seed — stable across
    runs, sessions, and cluster sizes)."""
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.standard_normal((num_planes, dim)).tolist()


def _bucket_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket signature, all planes in ONE Arrow-batched pass.

    The previous formulation evaluated ``num_planes`` interpreted
    ``aggregate(zip_with(...))`` dots per row (~planes x dim interpreted
    ops/row — the dominant cost of ``lsh_topk``). Here the whole batch
    multiplies against the plane matrix with the same sequential
    per-dimension accumulation order as the HOF ``_dot`` (d = 0..dim-1),
    so every sign bit — and therefore every bucket id — is bit-identical
    to the interpreted version, at vectorized speed."""
    import numpy as np

    pm = np.asarray(planes, dtype="float64")  # (planes, dim)

    @F.pandas_udf("long")
    def _sig(v):
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype="int64")

        def sigs(vm):  # (n, dim) -> (n,) bucket ids
            dots = np.zeros((vm.shape[0], pm.shape[0]))
            for d in range(pm.shape[1]):
                dots += np.multiply.outer(vm[:, d], pm[:, d])
            bits = (dots > 0).astype("int64") << np.arange(
                pm.shape[0], dtype="int64"
            )
            return bits.sum(axis=1)

        va = v.to_numpy()
        try:
            # fast path: clean fixed-dim batch stacks directly (an
            # all-NULL batch stacks to 1-D without raising — the ndim/
            # dim guard routes it to the fallback too)
            vm = np.stack(va).astype("float64")
            if vm.ndim != 2 or vm.shape[1] != pm.shape[1]:
                raise ValueError("non-rectangular or wrong-dim batch")
            return pd.Series(sigs(vm))
        except (TypeError, ValueError):
            # NULL / ragged / wrong-dim vectors: bucket them as NULL
            # (they can never be scored anyway) instead of failing the
            # whole query on one bad row.
            dim = pm.shape[1]

            def bad(x):
                return (
                    x is None or len(x) != dim
                    or pd.isnull(np.asarray(x, dtype="object")).any()
                )

            mask = np.array([not bad(x) for x in va])
            out = pd.array([None] * len(va), dtype="Int64")
            if mask.any():
                out[mask] = sigs(
                    np.stack([x for x, m in zip(va, mask) if m]).astype(
                        "float64"
                    )
                )
            return pd.Series(out)

    return _sig(vec)


def knn_label_vote(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    nn: DataFrame | None = None,
) -> DataFrame:
    """Label each query vector by MAJORITY VOTE of its ``k`` nearest
    labeled neighbors — neighbor-based label propagation, the standard
    curation move for scoring unlabeled documents against a small
    labeled seed set (quality tiers, domains, toxicity) without
    training a classifier.

    Default neighbor source is :func:`brute_force_topk` (exact — the
    verifiable configuration); at corpus scale pass ``nn`` explicitly,
    e.g. ``ivf_search(index, queries, k=k)`` — any (query_id,
    neighbor_id) frame works, so the vote composes with every ANN path
    here. The vote itself is two map-side-combinable aggregations on
    |queries|*k rows — never a scale concern.

    Deterministic: ties on votes pick the SMALLEST label (``min_by``
    over the struct (-votes, label), so the tie-break works for ANY
    orderable label type — strings like domain/tier names included,
    not just numerics; struct comparison orders field-by-field without
    negating the label column). Neighbor sets are already
    deterministic via the top-k tie-break on neighbor id. Returns
    (query_id, pred_label, votes, n_neighbors) — ``votes`` the
    winner's count, ``n_neighbors`` how many voted (< k only when the
    corpus is smaller than k).
    """
    if nn is None:
        nn = brute_force_topk(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_lbl")
    )
    votes = (
        nn.select("query_id", "neighbor_id")
        .join(labels, "neighbor_id")
        .groupBy("query_id", "_lbl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    # min over (-votes, label): most votes first, then smallest label —
    # valid for any orderable label type (negating the label column
    # would cast-fail/null on strings; r7 ADVICE fix).
    tie_key = F.struct(
        (-F.col("votes")).alias("nv"), F.col("_lbl").alias("l")
    )
    return votes.groupBy("query_id").agg(
        F.min_by(F.col("_lbl"), tie_key).alias("pred_label"),
        F.min_by(F.col("votes"), tie_key).alias("votes"),
        F.sum("votes").cast("bigint").alias("n_neighbors"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 2,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane buckets with
    multi-probe + exact rerank within the probed buckets.

    The corpus is hashed ONCE to its sign-signature bucket (never
    replicated — the 100 TB invariant); each query probes every bucket
    within Hamming distance ``probe_hamming`` of its own signature
    (sum of C(num_planes, 0..m) buckets), because a true neighbor at
    angle theta flips each sign bit independently with probability
    theta/pi — single-bucket probing's recall collapses as
    (1 - theta/pi)^num_planes. Probe replication happens on the tiny
    query side only; the rerank is one Arrow-batched vectorized pass
    over candidates. Recall/cost dial: probe_hamming up = more of the
    corpus scanned per query."""
    from itertools import combinations

    planes = _planes(num_planes, dim)
    masks = [0] + [
        sum(1 << b for b in bits)
        for m in range(1, probe_hamming + 1)
        for bits in combinations(range(num_planes), m)
    ]

    q = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .withColumn("sig", _bucket_expr(F.col("qv"), planes))
        .withColumn(
            "bucket",
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
        .drop("sig")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("bucket", _bucket_expr(F.col("cv"), planes))

    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _rowwise_cosine(F.col("qv"), F.col("cv")))
    )
    return _global_topk(scored, k)


def _exact_cosine_pairs_gemm(
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    block_rows: int = 4096,
) -> DataFrame:
    """All-pairs cosine >= threshold via tiled block matrix multiply.

    The relational formulation (nested-loop join + per-pair dot)
    evaluates interpreted higher-order functions O(n^2 * dim) times —
    measured 80 s for 2 k x 64-dim vectors. Here the corpus is hash-
    split into row blocks of ~``block_rows``; each row is replicated to
    every block *pair* containing its block (n * n_blocks shuffled
    rows), and each (pa, pb) task runs one float64 GEMM over its two
    tiles in native BLAS, keeping (id_a < id_b, sim >= threshold).
    Nothing is collected to the driver; per-task memory is two tiles
    (~block_rows * dim * 8 bytes each). Same math as the oracle —
    dot / (norm * norm) in double.
    """
    import numpy as np  # noqa: F401 (worker-side closures)
    import pandas as pd  # noqa: F401

    id_t = corpus.schema[id_col].dataType
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = base.count()
    n_blocks = max(1, -(-n // block_rows))

    blocked = base.withColumn(
        "blk", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    )
    # a row in block b participates in every unordered block pair
    # containing b: (i, b) for i < b and (b, j) for j >= b — exactly one
    # task per (row, partner-block), so no pair is scored twice
    tasks = (
        blocked.withColumn(
            "other", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("pa", F.least("blk", "other"))
        .withColumn("pb", F.greatest("blk", "other"))
    )

    out_schema = T.StructType(
        [
            T.StructField("vec_a", id_t),
            T.StructField("vec_b", id_t),
            T.StructField("sim", T.DoubleType()),
        ]
    )

    def score_block_pair(key, pdf):
        import numpy as _np
        import pandas as _pd

        pa, pb = key
        if pa == pb:
            ids = pdf["id"].to_numpy()
            m = _np.stack(pdf["v"].to_numpy()).astype("float64")
            norms = _np.sqrt((m * m).sum(axis=1))
            sims = (m @ m.T) / _np.outer(norms, norms)
            keep = (sims >= threshold) & (ids[:, None] < ids[None, :])
            ii, jj = _np.nonzero(keep)
            return _pd.DataFrame(
                {
                    "vec_a": ids[ii],
                    "vec_b": ids[jj],
                    "sim": _np.round(sims[ii, jj], 6),
                }
            )
        a = pdf[pdf["blk"] == pa]
        b = pdf[pdf["blk"] == pb]
        if not len(a) or not len(b):
            return _pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
        a_ids = a["id"].to_numpy()
        b_ids = b["id"].to_numpy()
        am = _np.stack(a["v"].to_numpy()).astype("float64")
        bm = _np.stack(b["v"].to_numpy()).astype("float64")
        a_norms = _np.sqrt((am * am).sum(axis=1))
        b_norms = _np.sqrt((bm * bm).sum(axis=1))
        sims = (am @ bm.T) / _np.outer(a_norms, b_norms)
        ii, jj = _np.nonzero(sims >= threshold)
        lo = _np.where(a_ids[ii] < b_ids[jj], a_ids[ii], b_ids[jj])
        hi = _np.where(a_ids[ii] < b_ids[jj], b_ids[jj], a_ids[ii])
        return _pd.DataFrame(
            {"vec_a": lo, "vec_b": hi, "sim": _np.round(sims[ii, jj], 6)}
        )

    return tasks.groupBy("pa", "pb").applyInPandas(
        score_block_pair, schema=out_schema
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "exact",
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    ``method="exact"`` compares all pairs (id_a < id_b) via the tiled
    block GEMM — the correctness baseline; quadratic compute spread
    across block-pair tasks, linear-in-(n * n_blocks) shuffle.
    ``method="lsh"`` first buckets vectors by random-hyperplane sign
    signature and compares only within-bucket pairs — the scale path: at
    100 TB the candidate set shrinks ~2^num_planes-fold and the bucket
    join shuffles on the bucket key instead of replicating blocks.
    Both verify candidates with exact cosine, so LSH trades recall (pairs
    split across buckets are missed), never precision.
    """
    if method == "exact":
        return _exact_cosine_pairs_gemm(corpus, threshold, id_col, vec_col)
    elif method == "lsh":
        planes = _planes(num_planes, dim)
        a = corpus.select(
            F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va")
        )
        b = corpus.select(
            F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb")
        )
        cand = (
            a.withColumn("bucket", _bucket_expr(F.col("va"), planes))
            .join(
                b.withColumn("bucket", _bucket_expr(F.col("vb"), planes)),
                "bucket",
            )
            .filter(F.col("vec_a") < F.col("vec_b"))
        )
    else:  # pragma: no cover - guard
        raise ValueError(f"unknown method {method!r}")
    return (
        cand.withColumn("sim", _rowwise_cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", F.round("sim", 6).alias("sim"))
    )


class IvfIndex(NamedTuple):
    """A built IVF index: cell-tagged corpus + the centroid table.

    ``assigned`` is (neighbor_id, cv, cell) — at scale you persist it
    partitioned by cell (``write.partitionBy("cell")``) so a search
    reads only its probed cells; ``centers`` is the tiny coarse-
    quantizer codebook every search broadcasts.
    """

    assigned: DataFrame
    centers: list[list[float]]


def build_ivf_index(
    corpus: DataFrame,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cache: bool = True,
) -> IvfIndex:
    """Train the coarse quantizer ONCE and tag every corpus vector with
    its cell. This is the build half of the build/search split — repeat
    searches reuse the index instead of re-fitting KMeans per query."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    feats = c.withColumn(
        "features", array_to_vector(F.col("cv").cast("array<double>"))
    )
    model = KMeans(k=num_centroids, seed=seed, maxIter=10).fit(feats)
    assigned = model.transform(feats).select(
        "neighbor_id", "cv", F.col("prediction").alias("cell")
    )
    if cache:
        # the cache IS the index: released when the caller's last
        # reference to the assigned table dies, not pinned for the
        # application lifetime (operators/caching.py policy)
        assigned = _release_with(_mcc(assigned), assigned)
    centers = [list(map(float, ctr)) for ctr in model.clusterCenters()]
    return IvfIndex(assigned, centers)


def ivf_search(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a built IVF index: each query ranks the (tiny) centroid
    table in one Arrow-batched pass, explodes to its ``nprobe`` nearest
    cells, and exact-reranks only those cells' vectors. No training, no
    full-corpus scan."""
    centers = index.centers

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(qv):
        import numpy as np
        import pandas as pd

        if not len(qv):
            return pd.Series([], dtype="object")
        qm = np.stack(qv.to_numpy()).astype("float64")
        cm = np.asarray(centers, dtype="float64")
        # squared L2 up to the per-query constant ||q||^2
        d2 = -2.0 * (qm @ cm.T) + (cm * cm).sum(axis=1)[None, :]
        order = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    probed = q.withColumn(
        "cell", F.explode(probe_cells(F.col("qv")))
    ).select("query_id", "qv", "cell")

    scored = (
        F.broadcast(probed)
        .join(index.assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", _rowwise_cosine(F.col("qv"), F.col("cv")))
    )
    return _global_topk(scored, k)


def save_ivf_index(index: IvfIndex, path: str) -> None:
    """Persist a built IVF index: cell assignments as parquet
    PARTITIONED BY cell (so a search's probed cells map to directory
    pruning — the scan never touches unprobed cells), plus the tiny
    centroid codebook as its own parquet table.

    The assigned+centers PAIR is written under one staging directory
    and the index directory swaps in as ONE ``staged_overwrite_dir``
    swap (r13, extending the text/phrase/importance atomic-pair fix):
    the pre-r13 per-part overwrite both destroyed the previous
    generation before the new one committed (a mid-save crash left a
    broken index with nothing to recover) and could mix generations
    across the two part writes. Both parts are still stamped with the
    same ``_generation`` marker (an underscore-prefixed file inside
    each parquet directory — invisible to scans), written into the
    staging dir BEFORE the swap, so :func:`load_ivf_index`'s
    mixed-build refusal keeps protecting indexes saved by older code
    and any exotic manual surgery: probing cells against another
    generation's centroids silently collapses recall.

    The whole directory IS the index: the swap atomically drops
    ``{path}/_ingest_batches`` — the streaming-append replay markers
    (``streaming.embeddings.ivf_append_batch``) belong to the
    PREVIOUS generation, and a save that kept them, fed by a stream
    that reuses its checkpoint path with cleared contents, would
    silently skip batches 0..N (the markers would claim those appends
    already landed in an index that no longer contains them)."""
    import uuid

    from sales_data_warehouse_spark.sources.compaction import (
        fs_write_text,
        staged_overwrite_dir,
    )

    spark = index.assigned.sparkSession
    rows = [
        (i, [float(x) for x in ctr]) for i, ctr in enumerate(index.centers)
    ]
    centers_df = spark.createDataFrame(
        rows, "cell INT, center ARRAY<DOUBLE>"
    ).coalesce(1)
    gen = uuid.uuid4().hex

    def _stamp(tmp: str) -> None:
        fs_write_text(spark, f"{tmp}/assigned/_generation", gen)
        fs_write_text(spark, f"{tmp}/centers/_generation", gen)

    staged_overwrite_dir(
        spark,
        {
            "assigned": (index.assigned, ["cell"]),
            "centers": (centers_df, None),
        },
        path,
        finalize=_stamp,
    )


def load_ivf_index(spark, path: str) -> IvfIndex:
    """Reopen a saved index. ``assigned`` stays a lazy partitioned scan:
    when ``ivf_search`` joins it against the probed (broadcast) cells,
    dynamic partition pruning / broadcast-hash-join filtering restricts
    the read to the probed cell directories.

    Recovers a save/rebuild that crashed mid-swap first (``path``
    missing, ``path + '.stage_old'`` holding the previous generation —
    the whole-directory staging of the r13 save), then verifies the
    two parts carry the SAME ``_generation`` marker and fails loudly
    on mismatch — the signature of a PRE-r13 save or rebuild that
    crashed between its two per-part swaps (new cell assignments, old
    codebook). A mixed-generation index loads without any structural
    error but probes cells against the wrong centroids, silently
    collapsing recall; loud is the only safe failure mode. Indexes
    saved before generation stamping (both markers absent) are
    accepted for back-compat."""
    from sales_data_warehouse_spark.sources.compaction import (
        fs_read_text,
        recover_staged,
    )

    recover_staged(spark, path)
    gen_a = fs_read_text(spark, f"{path}/assigned/_generation")
    gen_c = fs_read_text(spark, f"{path}/centers/_generation")
    if gen_a != gen_c:
        raise IOError(
            f"load_ivf_index: generation mismatch at {path} "
            f"(assigned={gen_a!r}, centers={gen_c!r}) — the index mixes "
            "two builds (most likely a rebuild crashed between part "
            "swaps). Recover the matching part from "
            f"{path}/*.rebuild_old or re-run rebuild_ivf_index."
        )
    assigned = spark.read.parquet(f"{path}/assigned")
    centers_rows = (
        spark.read.parquet(f"{path}/centers").orderBy("cell").collect()
    )
    centers = [list(r.center) for r in centers_rows]
    return IvfIndex(assigned, centers)


def rebuild_ivf_index(
    spark,
    path: str,
    num_centroids: int = 16,
    seed: int = 42,
) -> IvfIndex:
    """Re-train a persisted index on its CURRENT vectors, in place —
    the one-call answer to the monitors' "rebuild the index" warning
    (``ivf_cell_stats`` skew or ``ivf_recall_audit`` recall crossing
    budget after many :func:`ivf_append` batches assigned drifted data
    to stale centroids). Fresh KMeans over every vector in the index,
    fresh cell assignments, same path.

    Crash-safe despite reading and replacing the same location: the
    new ``assigned``/``centers`` pair is written under one staging
    directory and the index directory swaps in as ONE
    ``staged_overwrite_dir`` swap (r13 — the pre-r13 per-part rename
    protocol left a detectable-but-mixed generation on disk if the
    crash landed between the two part swaps; the whole-directory swap
    removes that window: a crash before the swap leaves the old index
    untouched, a crash mid-swap is restored by
    :func:`load_ivf_index`'s ``recover_staged``). The input plan
    lazily scans the live ``{path}/assigned`` while the staging dir is
    written — the source is never deleted before the new generation is
    complete (a plain ``save_ivf_index`` pre-r13 would have
    ``mode("overwrite")``-deleted the very directory its input plan
    was scanning; the staged save now shares the rebuild's safety).
    Both staging parts are still stamped with the same
    ``_generation`` marker before the swap, keeping the loud
    mixed-pair refusal for indexes produced by older code. The
    streaming replay markers (``_ingest_batches``) belong to the
    previous generation (see :func:`save_ivf_index`) and vanish
    ATOMICALLY with the swap — strictly better than the pre-r13
    clear-after-swap, which left a crash window that could only
    over-append.

    Scale: one full index scan for the KMeans fit (maxIter-bounded)
    plus one assignment-and-write pass — the same cost class as the
    original build, which is the honest price of moving centroids;
    everything cheaper is :func:`ivf_append`."""
    from sales_data_warehouse_spark.sources.compaction import (
        recover_staged,
    )

    # Same entry contract as load_ivf_index: a save/rebuild that
    # crashed mid-swap leaves `path` missing with `path + '.stage_old'`
    # holding the previous generation — recover it before reading
    # `{path}/assigned`, or the rebuild-after-crash fails on a missing
    # path the recovery protocol could have restored (r13 advice).
    recover_staged(spark, path)
    corpus = spark.read.parquet(f"{path}/assigned").select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("cv").alias("embedding"),
    )
    # cache=False: the assigned frame is written once below, and a
    # release-with-result cache would pin the pre-swap scan lineage
    index = build_ivf_index(
        corpus, num_centroids=num_centroids, seed=seed, cache=False
    )
    save_ivf_index(index, path)
    return load_ivf_index(spark, path)


def assign_cells(
    vectors: DataFrame,
    centers: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Tag vectors with their nearest EXISTING centroid (rank-0
    assignment, squared-L2 argmin over the broadcast codebook) — the
    no-retrain step incremental index growth is built on. One
    Arrow-batched pass; O(rows x num_centroids x dim), no shuffle.
    Output matches ``IvfIndex.assigned``: (neighbor_id, cv, cell)."""

    @F.pandas_udf(T.IntegerType())
    def nearest_cell(v):
        import numpy as np
        import pandas as pd

        if not len(v):
            return pd.Series([], dtype="int32")
        m = np.stack(v.to_numpy()).astype("float64")
        cm = np.asarray(centers, dtype="float64")
        d2 = -2.0 * (m @ cm.T) + (cm * cm).sum(axis=1)[None, :]
        return pd.Series(np.argmin(d2, axis=1).astype("int32"))

    return vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cell", nearest_cell(F.col("cv")))


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Grow a PERSISTED IVF index without retraining: load the (tiny)
    centroid codebook, assign each new vector to its nearest existing
    cell, and APPEND to the cell-partitioned parquet — per batch the
    work is O(batch x num_centroids) plus the append write; prior
    cells are never read or rewritten, and the next ``load_ivf_index``
    + ``ivf_search`` sees old and new vectors identically (searches
    still prune to the probed cell directories). This is the
    streaming-embedding-ingest shape: train once on a seed corpus,
    append every new batch.

    The trade is standard IVF: centroids drift from the optimum as the
    appended corpus shifts distribution, degrading recall (cells get
    lopsided) — monitor cell sizes with :func:`ivf_cell_stats` and
    rebuild the index when the skew or recall budget says so. Appends
    are RECALL-NEUTRAL: every appended vector lands in a valid cell of
    the same codebook and is reachable by the same probed-cell search,
    so search quality matches a same-centers rebuild. The stronger
    claim — bit-identical cell assignment to the originally built
    index — additionally assumes :func:`assign_cells`' numpy
    squared-L2 argmin agrees with the builder's Spark KMeansModel
    prediction kernel; the two evaluate floating point differently, so
    a vector exactly equidistant between centroids could land in a
    different (still valid) cell. The test pins append ≡ same-centers
    rebuild through ``assign_cells`` itself, which is the kernel every
    subsequent append uses."""
    centers_rows = (
        spark.read.parquet(f"{path}/centers").orderBy("cell").collect()
    )
    centers = [list(r.center) for r in centers_rows]
    assign_cells(new_vectors, centers, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/assigned")


class IvfCellStats(NamedTuple):
    """Skew report for a persisted IVF index (see ivf_cell_stats)."""

    per_cell: "DataFrame"  # (cell, n_rows) ordered n_rows desc
    n_cells: int
    total_rows: int
    max_rows: int
    median_rows: float
    skew_ratio: float  # max_rows / median_rows — the rebuild signal


def ivf_cell_stats(spark, path: str) -> IvfCellStats:
    """Cell-size drift monitor for a persisted IVF index — the tool
    the ``ivf_append`` docstring prescribes for deciding WHEN to
    rebuild. One groupBy-count over the assigned table (cell counts
    are O(num_centroids) rows, a bounded driver pull), summarized as
    ``skew_ratio = max / median`` cell size: near 1 means balanced
    cells and healthy probed-cell recall; a ratio drifting upward
    after appends means the distribution has moved off the trained
    centroids — lopsided cells make nprobe-bounded search scan more
    rows for the same recall, and a retrain rebalances. Also reports
    empty trained cells (cells present in the codebook but absent
    from the data) via ``n_cells`` vs the codebook size in the
    caller's hands. Rule of thumb: rebuild when skew_ratio exceeds
    ~4-8 or keeps climbing round over round."""
    rows = (
        spark.read.parquet(f"{path}/assigned")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy(F.col("n_rows").desc(), "cell")
        .collect()
    )
    # rebuild per_cell FROM the collected rows (O(num_centroids), already
    # on the driver) so a consumer inspecting it doesn't re-scan and
    # re-aggregate the whole assigned table a second time (r8 review)
    per_cell = spark.createDataFrame(
        [(int(r["cell"]), int(r["n_rows"])) for r in rows],
        "cell INT, n_rows BIGINT",
    )
    counts = sorted(r["n_rows"] for r in rows)
    if not counts:
        return IvfCellStats(per_cell, 0, 0, 0, 0.0, 0.0)
    mid = len(counts) // 2
    med = float(
        counts[mid]
        if len(counts) % 2
        else (counts[mid - 1] + counts[mid]) / 2.0
    )
    return IvfCellStats(
        per_cell=per_cell,
        n_cells=len(counts),
        total_rows=int(sum(counts)),
        max_rows=int(max(counts)),
        median_rows=med,
        skew_ratio=float(max(counts) / med) if med else float("inf"),
    )


class IvfRecallStats(NamedTuple):
    """One measured row from :func:`ivf_recall_audit` — see there."""

    n_queries: int
    truth_hits: int
    caught_hits: int
    recall_at_k: float | None


def ivf_recall_audit_df(
    index: IvfIndex,
    k: int = 5,
    nprobe: int = 4,
    sample_permille: int = 2,
) -> DataFrame:
    """Measured recall@k of a built/persisted IVF index on its OWN
    corpus — the QUALITY counterpart of :func:`ivf_cell_stats` (which
    monitors only the COST side of append drift). The skew ratio says
    cells went lopsided; this says whether search quality actually
    paid: a deterministic ``permille_hash`` sample of the indexed
    vectors queries the index (``nprobe`` as in production) AND an
    exact brute-force top-k over the full corpus, and recall@k is the
    measured overlap. Run it after appends alongside the skew monitor;
    the two together are the rebuild decision — rebuild when recall
    drops below budget, not when a proxy number looks big.

    Cost: the brute-force truth side is one full corpus scan x
    |sample| dot products (block GEMM, never |q| x |c| shuffle rows)
    — linear in the corpus at fixed permille, the honest audit price.
    Returns one row: ``n_queries``, ``truth_hits`` (brute-force rows,
    <= k per query on tiny corpora), ``caught_hits`` (hits the IVF
    search also returned), ``recall_at_k`` (NULL when the sample is
    empty — no evidence is not perfect recall). Both paths rank
    through the same deterministic tie-break (sim desc, neighbor id
    asc), so tie choices never read as misses.

    Choosing ``nprobe``: pick it from the measured nprobe→recall
    curve, not from the default — OPERATORS.md records the r10 curve
    for the 16-centroid test indexes (nprobe 1/2/4/8/16 → recall@5
    ≈ 0.29/0.45/0.68/0.91/1.0; cost is ~linear in nprobe). Re-measure
    with THIS function whenever centroid count or corpus distribution
    changes — the curve is index-specific."""
    corpus = index.assigned.select(
        F.col("neighbor_id").alias("vec_id"),
        F.col("cv").alias("embedding"),
    )
    from sales_data_warehouse_spark.operators.sampling import (
        permille_hash,
    )

    queries = corpus.filter(
        permille_hash(F.col("vec_id")) < sample_permille
    )
    truth = brute_force_topk(corpus, queries, k=k)
    got = ivf_search(index, queries, k=k, nprobe=nprobe)
    caught = got.join(
        truth.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    n_q = queries.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    n_truth = truth.agg(
        F.count(F.lit(1)).cast("bigint").alias("truth_hits")
    )
    n_caught = caught.agg(
        F.count(F.lit(1)).cast("bigint").alias("caught_hits")
    )
    return (
        n_q.crossJoin(F.broadcast(n_truth))
        .crossJoin(F.broadcast(n_caught))
        .select(
            "n_queries",
            "truth_hits",
            "caught_hits",
            F.when(
                F.col("truth_hits") > 0,
                F.round(
                    F.col("caught_hits").cast("double")
                    / F.col("truth_hits"),
                    6,
                ),
            ).alias("recall_at_k"),
        )
    )


def ivf_recall_audit(
    index: IvfIndex,
    k: int = 5,
    nprobe: int = 4,
    sample_permille: int = 2,
) -> IvfRecallStats:
    """:func:`ivf_recall_audit_df` collected into an
    :class:`IvfRecallStats` (one driver row)."""
    row = ivf_recall_audit_df(
        index, k, nprobe, sample_permille
    ).collect()[0]
    return IvfRecallStats(**row.asDict())


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-shot convenience wrapper: build the index, then search it.
    Interactive / repeated-query use should call ``build_ivf_index``
    once and ``ivf_search`` per query batch instead."""
    index = build_ivf_index(
        corpus, num_centroids, id_col, vec_col, seed, cache=False
    )
    return ivf_search(index, queries, k, nprobe, id_col, vec_col)


def normalize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """L2-normalize embeddings (the standard pre-ANN step: unit vectors
    make cosine == dot). Output: (id, unit ARRAY<DOUBLE>, norm). Pure
    higher-order-function arithmetic, O(n*dim) with no shuffle; values
    rounded so results are engine-hash-stable."""
    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    unit = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") / norm, round_to)
    )
    return corpus.select(
        F.col(id_col),
        unit.alias("unit"),
        F.round(norm, round_to).alias("norm"),
    )


def embedding_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corpus-level embedding sanity stats (norm distribution)."""
    norm = F.sqrt(_dot(F.col(vec_col), F.col(vec_col)))
    return corpus.select(norm.alias("norm")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
    )


def group_centroids(
    corpus: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-group embedding centroid (mean vector) — the reduction behind
    semantic cluster summaries, per-source drift monitors, and IVF-style
    coarse quantizer refits over labeled corpora.

    Plan: posexplode to (group, dim, value), ONE groupBy(group, dim)
    summing decimal-cast components (map-side partial aggregation; the
    shuffle carries |groups| x dim partial sums regardless of corpus
    size — the scalable dense-vector reduction in Spark), then a
    |groups|-sized reassembly sorting components into the centroid
    array. Nothing is proportional to input rows after the first
    aggregate, so the shape survives 100 TB of vectors.

    Determinism: component sums accumulate in DECIMAL(27,12) (exact, so
    partition order can't drift low bits as double sums would); the
    single double division and round happen once per (group, dim). Both
    engines round the same double, making results hash-stable
    cross-engine (same contract as the money math in queries/corpus).

    Output: (group, n_vecs, centroid ARRAY<DOUBLE> rounded).
    """
    x = corpus.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("dim", "val"),
    )
    # float -> double (exact) -> decimal, mirroring the oracle's cast
    # chain so both engines round the identical binary value
    comp = x.groupBy("grp", "dim").agg(
        F.sum(F.col("val").cast("double").cast("decimal(27,12)")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        comp.groupBy("grp")
        .agg(
            # MAX, not FIRST: per-(group,dim) counts are equal for
            # fixed-dim corpora, but on ragged/null-element arrays
            # F.first over a grouped agg is nondeterministic — MAX is
            # stable and matches the oracle's MAX(n) exactly.
            F.max("n").alias("n_vecs"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("dim"),
                            F.round(
                                F.col("s").cast("double") / F.col("n"),
                                round_to,
                            ).alias("m"),
                        )
                    )
                ),
                lambda st: st["m"],
            ).alias("centroid"),
        )
        .select(
            F.col("grp").alias(group_col),
            F.col("n_vecs").cast("bigint").alias("n_vecs"),
            "centroid",
        )
    )


def quantize_embeddings(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max|x| / 127``,
    ``q_i = round(x_i / scale)`` — the 4x storage/bandwidth cut an ANN
    index takes before sharding 100 TB of embeddings.

    The scale is materialized in its own projection before the transform
    lambda references it (Catalyst doesn't CSE inside lambdas — an
    inline scale would recompute the array max once per element; see the
    ``shingles_from_tokens`` PERF note). All arithmetic is double with
    one terminal round, bit-identical across engines.
    """
    v = F.col("_v")
    base = corpus.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    ).select(
        id_col,
        "_v",
        (
            F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
        ).alias("_scale"),
    )
    # Zero vectors (scale = 0) quantize to NULL rather than dividing by
    # zero — at corpus scale they exist (empty docs, failed encoders).
    return base.select(
        id_col,
        F.round(F.col("_scale"), 6).alias("scale"),
        F.when(
            F.col("_scale") > 0,
            F.transform(
                v, lambda x: F.round(x / F.col("_scale"), 0).cast("int")
            ),
        ).alias("qvec"),
    )


def truncate_embeddings(
    corpus: DataFrame,
    dims: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka-style truncation: keep the first ``dims`` components
    and re-normalize to unit length — the cheap-retrieval representation
    (coarse search on the prefix, rerank on the full vector).
    """
    v = F.col("_v")
    base = corpus.select(
        F.col(id_col),
        F.transform(
            F.slice(F.col(vec_col), 1, dims), lambda x: x.cast("double")
        ).alias("_v"),
    ).select(
        id_col,
        "_v",
        F.sqrt(
            F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
        ).alias("_norm"),
    )
    # Zero-norm prefixes produce NULL rather than dividing by zero.
    return base.select(
        id_col,
        F.round(F.col("_norm"), 6).alias("prefix_norm"),
        F.when(
            F.col("_norm") > 0,
            F.transform(v, lambda x: F.round(x / F.col("_norm"), 6)),
        ).alias("unit_prefix"),
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    num_centroids: int = 16,
    assign: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cell_rows: int | None = 16_384,
    oversize: str = "warn",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): bucket
    the corpus into k-means cells, compare cosine similarity only WITHIN
    each cell, and drop every vector that has an in-cell near-duplicate
    with a smaller id (deterministic keep-lowest rule; the kept vector
    is the group's representative).

    This is the scale path for embedding dedup: the exact all-pairs
    GEMM is O(n^2) over the corpus, while cells bound the quadratic
    term to O(sum cell_i^2) — with cells balanced, an n_cells-fold
    reduction. Recall is traded at cell boundaries, precision never:
    every drop is backed by an exact cosine comparison. ``assign`` soft-
    assigns each vector to its ``assign`` nearest cells (rank-0 = the
    true cell), so a boundary-split pair still co-occurs wherever their
    probe sets overlap — the multi-assignment recall fix from the IVF
    literature at ``assign``x compute, and a vector is dropped if ANY
    of its cells finds a smaller-id duplicate (drops stay exact-backed,
    so extra assignments only ever improve recall).

    Per-task memory is one cell's gram matrix; scale ``num_centroids``
    with the corpus (SemDeDup used ~sqrt-of-n clusters at the 5 B-image
    scale) to keep cells bounded. The k-means fit itself is Spark ML's
    distributed Lloyd's — no driver-side data; only the tiny codebook
    is collected and rebroadcast.

    ``max_cell_rows`` is the RUNTIME guard for that prescription: before
    the gram stage, one cell-size count (over a locally-checkpointed
    assignment table, so the Arrow kernel runs once and the blocks are
    released with the result, not pinned in the CacheManager) checks
    whether any cell exceeds the bound — which makes the call EAGER:
    k-means and the assignment kernel execute at call time, not at the
    first action on the result; ``oversize='warn'`` (default) raises a
    ``ResourceWarning`` naming the hottest cells and the fix,
    ``oversize='error'`` refuses to run. The default 16,384 caps the
    per-task gram + verdict matrices near 16384^2 * 8 B ≈ 2.1 GiB
    (plus two bool masks ≈ 0.5 GiB) — a skewed k-means cell fails
    LOUDLY here instead of as an executor OOM three stages in. Pass
    ``None`` to skip the guard (and its one count job) when cell sizes
    are already known.

    The guard's materialization is a persist released with the result
    (``operators/caching.py``): lineage is preserved, so an executor
    loss recomputes the assignment partitions instead of failing the
    job (round 7 — the r6 ``localCheckpoint`` variant traded that away),
    and the CacheManager entry is dropped when the caller's last
    reference to the returned DataFrame is garbage-collected rather
    than pinned for the application lifetime.

    Returns one row per vector: (id, cell, n_dup_neighbors, kept) with
    ``cell`` the rank-0 assignment and ``n_dup_neighbors`` the largest
    in-cell duplicate count observed across assignments.
    """
    import numpy as _np
    import pandas as _pd

    # training only — the argmin assignment is recomputed below with
    # top-``assign`` ranks; ``assigned`` is lazy and never executed
    centers = build_ivf_index(
        corpus, num_centroids, id_col=id_col, vec_col=vec_col, seed=seed,
        cache=False,
    ).centers

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def near_cells(v):
        if not len(v):
            return _pd.Series([], dtype="object")
        m = _np.stack(v.to_numpy()).astype("float64")
        cm = _np.asarray(centers, dtype="float64")
        d2 = -2.0 * (m @ cm.T) + (cm * cm).sum(axis=1)[None, :]
        order = _np.argsort(d2, axis=1, kind="stable")[:, :assign]
        return _pd.Series([row.astype("int32").tolist() for row in order])

    tagged = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).select(
        "id", "v", F.posexplode(near_cells(F.col("v"))).alias("rank", "cell")
    )

    if max_cell_rows is not None:
        if oversize not in ("warn", "error"):
            raise ValueError(f"oversize must be warn|error: {oversize}")
        import warnings

        # persist + release-with-result (operators/caching.py, r7):
        # the assignment table materializes ONCE — the guard's count
        # below triggers it — and serves the downstream gram stage
        # from the columnar cache; the CacheManager entry is released
        # when the returned DataFrame is garbage-collected, and
        # lineage is PRESERVED so an executor loss recomputes instead
        # of failing (the fault-tolerance gap of the r6
        # localCheckpoint variant). The guard still makes this call
        # EAGER (k-means + the assignment kernel run here, at call
        # time).
        tagged = _mcc(tagged)
        hot = (
            tagged.groupBy("cell")
            .count()
            .filter(F.col("count") > max_cell_rows)
            .orderBy(F.col("count").desc())
            .limit(5)
            .collect()
        )  # bounded driver pull: top-5 offenders only
        if hot:
            detail = ", ".join(
                f"cell {r['cell']}={r['count']:,} rows" for r in hot
            )
            msg = (
                f"semantic_dedup: k-means cell(s) exceed max_cell_rows="
                f"{max_cell_rows} ({detail}). Each cell builds an "
                "O(rows^2) gram matrix in one task — raise "
                "num_centroids (SemDeDup guidance: ~sqrt(n) cells) or "
                "raise max_cell_rows if executors have the memory."
            )
            if oversize == "error":
                # release the cache before raising: the result (which
                # would carry the weakref release) is never built on
                # this path, so without this the failed call pins the
                # full assignment table in the CacheManager for the
                # application lifetime (r7 ADVICE, medium).
                tagged.unpersist()
                raise ValueError(msg)
            warnings.warn(msg, ResourceWarning, stacklevel=2)

    id_t = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id", id_t),
            T.StructField("cell", T.IntegerType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("n_dup_neighbors", T.LongType()),
            T.StructField("has_smaller_dup", T.BooleanType()),
        ]
    )

    def cell_verdicts(key, pdf):
        ids = pdf["id"].to_numpy()
        m = _np.stack(pdf["v"].to_numpy()).astype("float64")
        norms = _np.sqrt((m * m).sum(axis=1))
        norms[norms == 0.0] = 1.0  # zero vectors: cos undefined -> 0
        sims = (m @ m.T) / _np.outer(norms, norms)
        dup = sims >= threshold
        _np.fill_diagonal(dup, False)
        smaller = ids[None, :] < ids[:, None]
        return _pd.DataFrame(
            {
                "id": ids,
                "cell": int(key[0]),
                "rank": pdf["rank"].to_numpy(),
                "n_dup_neighbors": dup.sum(axis=1).astype("int64"),
                "has_smaller_dup": (dup & smaller).any(axis=1),
            }
        )

    result = (
        tagged.groupBy("cell")
        .applyInPandas(cell_verdicts, schema=out_schema)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.min_by("cell", "rank").alias("cell"),
            F.max("n_dup_neighbors").alias("n_dup_neighbors"),
            (~F.bool_or("has_smaller_dup")).alias("kept"),
        )
    )
    if max_cell_rows is not None:
        result = _release_with(result, tagged)
    return result
