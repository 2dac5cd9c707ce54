"""Reusable as-of (point-in-time) join — one semantics, two physical
plans.

Reference: ``FactTable.sql:18-27`` does this with a correlated scalar
subquery per fact row (``ORDER BY last_update_date DESC LIMIT 1``) —
O(fact x versions) probes. Spark has no native ASOF JOIN; this module
provides:

* :func:`asof_join` — broadcast non-equi join + ``max_by`` top-1
  reduction (map-side partial aggregation, SURVEY J8/W3). Wins while
  the versioned side fits in a broadcast.
* :func:`asof_join_grouped` — pure-JVM union-tag + running
  ``last(ignorenulls)`` window: one co-keyed shuffle + sort, no
  Python, the plan that survives both sides huge (r7; SURVEY J8
  option (b)).
* :func:`asof_join_auto` — routes between the two by the versioned
  side's size estimate (``session.fits_broadcast``).

Both plans support three directions (backward/forward/nearest, with
pandas merge_asof's prefer-backward tie rule), ``tolerance`` (bounded
staleness) and ``allow_exact_matches`` (strict bounds with fallback),
verified bit-identical against each other, a pandas ``merge_asof``
oracle (``tests/test_asof_grouped.py``) and a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from sales_data_warehouse_spark.session import fits_broadcast


def _ts_micros(col: F.Column, dtype: T.DataType) -> F.Column:
    """Timezone-independent orderable number for an as-of key column.

    Dates and timestamps become integer microseconds since the epoch; a
    cast through plain ``timestamp`` would pin dates to midnight in the
    SESSION timezone, so under a DST zone two date distances can skew by
    ±1h and flip a near-tie between physical plans (round-6 fix).
    TimestampNTZ is decomposed field-by-field (date part + time-of-day)
    because ``to_utc_timestamp`` takes TimestampType and the implicit
    NTZ→LTZ cast reintroduces the session timezone (round-7 fix, r6
    ADVICE #1). Integral numerics stay exact — byte/short/int/long as
    bigint, DECIMAL(p,0) as decimal(38,0) (exact above 2^53, and above
    2^63 where a bigint cast would NULL under ANSI-off; round-8 fix,
    r7 ADVICE #3 + review). Fractional numerics cast to double;
    exactness guarantees hold when both sides are integral — a MIXED
    integral/fractional pairing widens the comparison to double and
    quietly degrades above 2^53 (callers warn via
    :func:`_warn_mixed_numeric_keys`). Decimal(38,0) differences also
    assume |a-b| < 10^38: subtraction stays decimal(38,0), so for
    opposite-sign operands with magnitudes near 10^38 the difference
    overflows and NULLs under ANSI-off, silently dropping a
    nearest/tolerance candidate (r8 ADVICE; unreachable for real
    id/epoch keys, stated here so the exactness contract has edges).
    """
    if isinstance(dtype, T.DateType):
        return F.unix_date(col).cast("bigint") * F.lit(
            86_400_000_000
        ).cast("bigint")
    if isinstance(dtype, T.TimestampNTZType):
        # field extraction on NTZ is timezone-free: cast→date takes the
        # literal date part, hour/minute read the wall clock,
        # date_part('SECOND') carries the fractional seconds
        return (
            F.unix_date(col.cast("date")).cast("bigint")
            * F.lit(86_400_000_000).cast("bigint")
            + F.hour(col).cast("bigint") * F.lit(3_600_000_000).cast("bigint")
            + F.minute(col).cast("bigint") * F.lit(60_000_000).cast("bigint")
            + (F.date_part(F.lit("SECOND"), col) * F.lit(1_000_000)).cast(
                "bigint"
            )
        )
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(col)  # instant micros
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        # keep integral keys exact: casting to double loses precision
        # above 2^53, which can misresolve 'nearest' near-ties,
        # allow_exact_matches equality, tolerance bounds, and the union
        # plan's sort order (r7 ADVICE). Consumers only need a
        # consistent orderable number — bigint is one.
        return col.cast("bigint")
    if isinstance(dtype, T.DecimalType) and dtype.scale == 0:
        # integral DECIMAL(p,0) keys (exported bigint ids/epochs are
        # commonly re-typed this way) are just as exactness-sensitive:
        # double collapses above 2^53, and a bigint cast would
        # silently NULL values above 2^63 under this project's
        # ANSI-off sessions. DECIMAL(38,0) keeps every value exact and
        # is orderable/subtractable, which is all the consumers need —
        # and a bigint-vs-decimal(38,0) union widens to decimal(38,0),
        # staying exact. (Mixed integral/fractional pairings still
        # widen to double — exactness holds when BOTH sides are
        # integral, which is the contract worth having.)
        return col.cast("decimal(38,0)")
    return col.cast("double")


def _tolerance_in_ts_units(tolerance, dtype: T.DataType):
    """Validate and convert ``tolerance`` into the :func:`_ts_micros`
    number domain: integer microseconds for date/timestamp keys (a
    ``datetime.timedelta`` is required — a bare number would be
    ambiguous), a plain non-negative number for numeric keys."""
    if tolerance is None:
        return None
    import datetime as _dt

    temporal = (T.DateType, T.TimestampType, T.TimestampNTZType)
    if isinstance(dtype, temporal):
        if not isinstance(tolerance, _dt.timedelta):
            raise TypeError(
                "asof_join: tolerance must be a datetime.timedelta for "
                f"date/timestamp keys, got {type(tolerance).__name__}"
            )
        micros = tolerance // _dt.timedelta(microseconds=1)
    else:
        if isinstance(tolerance, _dt.timedelta):
            raise TypeError(
                "asof_join: numeric ts keys take a numeric tolerance, "
                "not a timedelta"
            )
        micros = tolerance
    if micros < 0:
        raise ValueError(f"asof_join: tolerance must be >= 0: {tolerance}")
    return micros

def _warn_mixed_numeric_keys(
    left_dtype: T.DataType,
    right_dtype: T.DataType,
    stacklevel: int = 3,
) -> None:
    """Warn on mixed-family as-of key types (r8 brief #8 + r9 review):

    * integral vs fractional — both plans compare the two sides in the
      :func:`_ts_micros` number domain, and a bigint-vs-double (or
      decimal(38,0)-vs-double) comparison widens to DOUBLE, so the
      integral side's exactness quietly degrades above 2^53 —
      'nearest' near-ties, ``allow_exact_matches`` equality, tolerance
      bounds, and the union plan's sort order can all misresolve;
    * numeric vs temporal — the temporal side becomes epoch
      MICROseconds while the numeric side stays raw, so the two sides
      are compared in mismatched units (epoch-seconds vs a timestamp
      is off by 10^6): the grouped plan constructs and produces
      silently wrong-or-empty matches (the broadcast plan
      compares raw columns, so Catalyst refuses DATE-vs-BIGINT at
      analysis — there the warning explains the failure). This is
      the worse bug and was previously undiagnosed.

    The exactness contract holds when both sides are integral, both
    temporal (date vs timestamp both land in micros), or both
    fractional; ``stacklevel`` follows the :func:`_warn_loud`
    convention (default: user -> operator -> here)."""
    integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

    def _kind(dt: T.DataType) -> str | None:
        if isinstance(
            dt, (T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            return "temporal"
        if isinstance(dt, integral) or (
            isinstance(dt, T.DecimalType) and dt.scale == 0
        ):
            return "integral"
        if isinstance(dt, (T.FloatType, T.DoubleType)) or (
            isinstance(dt, T.DecimalType) and dt.scale > 0
        ):
            return "fractional"
        return None  # string/other: cast errors surface on their own

    kinds = {_kind(left_dtype), _kind(right_dtype)} - {None}
    if len(kinds) < 2:
        return
    import warnings

    pair = (
        f"({left_dtype.simpleString()} vs {right_dtype.simpleString()})"
    )
    if "temporal" in kinds:
        msg = (
            f"asof_join: mixed numeric/temporal key types {pair} — the "
            "temporal side is compared as epoch MICROSECONDS while the "
            "numeric side stays raw, so the units almost certainly "
            "disagree and matches will be wrong or empty. Cast the "
            "numeric side to a timestamp (or both sides to numbers in "
            "one unit)."
        )
    else:
        msg = (
            f"asof_join: mixed integral/fractional key types {pair} — "
            "the comparison widens to double and integral exactness "
            "degrades above 2^53. Cast both sides to one numeric "
            "family for exact semantics."
        )
    warnings.warn(msg, UserWarning, stacklevel=stacklevel)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    unique_left: bool = False,
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """For each left row, attach the single right row with the greatest
    ``right_ts`` <= ``left_ts`` (direction='backward'; 'forward' = least
    ``right_ts`` >= ``left_ts``; 'nearest' = smallest absolute
    ``|right_ts - left_ts|``, equidistant ties preferring the backward
    row — pandas ``merge_asof``'s tie rule, so both physical plans
    agree), matching on equality of ``on`` keys.

    'nearest' requires a date/timestamp or numeric ts column (it
    subtracts them).

    Left rows with no qualifying right row are dropped (inner semantics,
    matching the reference's correlated-subquery inner join).

    ``unique_left=True`` asserts that ``on + [left_ts]`` is unique on the
    left (e.g. the left is a ``.distinct()`` of those columns): the top-1
    reduction then groups by the real keys instead of a synthetic row id,
    so Catalyst/AQE can reuse the left's existing partitioning instead of
    re-shuffling on a meaningless unique id. With duplicate left keys it
    would collapse rows — leave it False there.

    This plan broadcasts ``right`` without checking its size; a
    too-big side fails at Spark's own broadcast limits rather than
    silently succeeding. :func:`asof_join_auto` checks it first.

    Choosing between this plan and :func:`asof_join_grouped`: this
    broadcast + ``max_by`` plan wins whenever the versioned side fits
    in a broadcast (1.75 s at 600 k facts -> 1.98 s at 6 M on the
    pricing oracle, BENCH_full_r06). Past the broadcast limit, where
    ``session.fits_broadcast`` says no, use :func:`asof_join_grouped`:
    since round 7 it is pure JVM (one co-keyed shuffle + sort +
    running-last window, ~1.8 s warm on the same oracle at sf0.1, vs
    the retired pandas-cogroup plan's flat ~26 s Arrow tax) and stays
    bounded by the largest single key.

    ``tolerance`` (round 7; pandas merge_asof's knob) bounds how far a
    match may sit from the fact row: a ``datetime.timedelta`` for
    date/timestamp keys, a number for numeric keys. A left row whose
    nearest qualifying version exceeds the bound DROPS (inner
    semantics) — a stale price list stops silently pricing far-future
    facts. ``allow_exact_matches=False`` makes the directional bound
    strict (``<`` / ``>``) and excludes same-instant versions from
    'nearest' — the lookup-must-strictly-precede contract of leakage-
    safe feature joins. Both knobs are honored identically by both
    physical plans and the pandas oracle (tested in
    ``tests/test_asof_grouped.py``); tolerance additionally tightens
    this plan's join condition, so it PRUNES candidates rather than
    adding work.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction}"
        )
    lid = "__asof_left_id"
    if unique_left:
        lft = left
        group_keys = [F.col(f"l.{k}") for k in on] + [F.col(f"l.{left_ts}")]
    else:
        lft = left.withColumn(lid, F.monotonically_increasing_id())
        group_keys = [F.col(f"l.{lid}")]

    _warn_mixed_numeric_keys(
        left.schema[left_ts].dataType, right.schema[right_ts].dataType
    )
    l_num = _ts_micros(F.col(f"l.{left_ts}"), left.schema[left_ts].dataType)
    r_num = _ts_micros(
        F.col(f"r.{right_ts}"), right.schema[right_ts].dataType
    )
    tol = _tolerance_in_ts_units(tolerance, left.schema[left_ts].dataType)

    if direction == "backward":
        cond = (
            F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}")
            if allow_exact_matches
            else F.col(f"r.{right_ts}") < F.col(f"l.{left_ts}")
        )
        if tol is not None:
            cond = cond & (l_num - r_num <= F.lit(tol))
    elif direction == "forward":
        cond = (
            F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}")
            if allow_exact_matches
            else F.col(f"r.{right_ts}") > F.col(f"l.{left_ts}")
        )
        if tol is not None:
            cond = cond & (r_num - l_num <= F.lit(tol))
    else:
        # nearest: without a tolerance no ts inequality can prune a
        # candidate version — join every version per key and let the
        # min_by pick; the candidate set per left row is
        # versions-per-key, same bound as the directional joins' worst
        # case. The NULL guards keep the inner contract the directional
        # joins get for free from their ts inequality: a NULL-ts left
        # row must DROP, not emit NULL right columns.
        cond = (
            F.col(f"l.{left_ts}").isNotNull()
            & F.col(f"r.{right_ts}").isNotNull()
        )
        if not allow_exact_matches:
            cond = cond & (l_num != r_num)
        if tol is not None:
            cond = cond & (F.abs(l_num - r_num) <= F.lit(tol))
    for k in on:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))

    joined = lft.alias("l").join(
        F.broadcast(right).alias("r"), cond, "inner"
    )

    # Top-1-per-left-row via max_by/min_by instead of a window: the
    # grouped aggregate gets map-side partial aggregation (each task
    # reduces its local candidates to one row per left id before the
    # shuffle) and needs no sort, where a row_number window must shuffle
    # ALL join candidates and sort them within each partition. Ties on
    # right_ts pick an arbitrary version — same contract as the
    # reference's ORDER BY ... LIMIT 1 (FactTable.sql:25-26).
    right_cols = [c for c in right.columns if c not in on]
    if direction == "nearest":
        # order key = (|Δts|, forward?) — equidistant ties prefer the
        # backward version, pandas merge_asof's documented tie rule,
        # keeping this plan and asof_join_grouped bit-identical
        pick, order_key = F.min_by, F.struct(
            F.abs(l_num - r_num).alias("__dist"),
            (r_num > l_num).cast("int").alias("__fwd"),
        )
    else:
        pick = F.max_by if direction == "backward" else F.min_by
        order_key = F.col(f"r.{right_ts}")
    best = joined.groupBy(*group_keys).agg(
        F.first(
            F.struct(*[F.col(f"l.{c}").alias(c) for c in left.columns])
        ).alias("__l"),
        pick(
            F.struct(*[F.col(f"r.{c}").alias(c) for c in right_cols]),
            order_key,
        ).alias("__r"),
    )
    return best.select(
        *[F.col(f"__l.{c}").alias(c) for c in left.columns],
        *[F.col(f"__r.{c}").alias(c) for c in right_cols],
    )


def asof_join_auto(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    unique_left: bool = False,
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Route to the right physical as-of plan by the versioned side's
    size: when ``right`` fits a broadcast (``session.fits_broadcast``:
    the optimizer's size estimate with a decompression margin, at or
    under ``spark.sql.autoBroadcastJoinThreshold``), the broadcast +
    ``max_by`` plan (1.8-2.0 s on the pricing oracle); otherwise
    :func:`asof_join_grouped`'s pure-JVM union plan (one co-keyed
    shuffle + sort, the shape that survives both sides huge).

    The probe reads plan statistics only and submits no job; an
    unreadable estimate picks the union plan. ``unique_left`` applies
    only on the broadcast route (the union plan does not group by a
    row id).
    """
    if fits_broadcast(right):
        return asof_join(
            left, right, on, left_ts, right_ts,
            direction=direction,
            unique_left=unique_left,
            tolerance=tolerance,
            allow_exact_matches=allow_exact_matches,
        )
    return asof_join_grouped(
        left, right, on, left_ts, right_ts,
        direction=direction,
        tolerance=tolerance,
        allow_exact_matches=allow_exact_matches,
    )


def asof_join_grouped(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join for when NEITHER side broadcasts (billion-row versioned
    side): a PURE-JVM plan (round 7, SURVEY §2 J8 option (b)). Union-tag
    both sides (left rows carry a NULL right-struct, right rows a NULL
    left-struct), shuffle ONCE on the ``on`` keys, sort each key group
    by (ts, side) and carry the latest right struct forward with
    ``last(ignorenulls=True)`` over a running row frame — no Python
    anywhere. State per window frame is a single right-side struct, so
    the plan scales with the largest key's row count (sort) and never
    materializes the join candidates the broadcast plan's max_by
    reduces. The same semantics as :func:`asof_join` (inner: left rows
    with no qualifying version are dropped) for all three directions.

    Sort-order details that carry the semantics:
    * right rows sort BEFORE left rows at equal ts (``__lft`` 0 < 1), so
      a version effective exactly at the fact's ts is visible to it —
      the inclusive <= / >= bound of the directional joins; under
      ``allow_exact_matches=False`` the tie order FLIPS (left before
      right), which excludes same-instant versions from the running
      frame while keeping the strictly-earlier/later ones — strictness
      with fallback, not a post-filter (a post-filter would drop the
      row instead of falling back to the previous version);
    * ``tolerance`` IS a post-filter on the carried candidate's
      distance, which is correct for running extremes: the carried
      version is the closest qualifying one, so if IT exceeds the
      bound every other candidate on that side does too;
    * 'forward' runs the same running ``last`` over the descending sort;
    * 'nearest' evaluates both windows over ONE exchange (the second
      window adds only a sort) and picks the smaller integer-micros
      distance, preferring backward on equidistant ties — pandas
      merge_asof's rule, so both physical plans agree;
    * NULL-ts rows on either side are filtered up front: a NULL-ts fact
      must DROP (inner contract) and a NULL-ts version can never be
      anyone's match.

    Ties on ``right_ts`` within a key pick an arbitrary version — the
    same contract as the reference's ``ORDER BY ... LIMIT 1``
    (FactTable.sql:25-26). The plan orders on the same
    timezone-independent integer microseconds as the broadcast plan
    (``_ts_micros``), so it is immune to session-timezone skew.

    Crossover vs :func:`asof_join`: broadcast + ``max_by`` wins while
    the versioned side fits in a broadcast (~1.8-2.0 s on the pricing
    oracle); reach for this plan past the broadcast limit, where
    ``session.fits_broadcast`` says no (about 9 M rows of the pricing
    oracle's price list at the 32 MiB default threshold). Its cost is
    one co-keyed shuffle + sort of left+right, the same shape as any
    co-partitioned join.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction}"
        )
    _warn_mixed_numeric_keys(
        left.schema[left_ts].dataType, right.schema[right_ts].dataType
    )
    right_cols = [c for c in right.columns if c not in on]
    l_struct_t = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in left.schema.fields]
    )
    r_struct_t = T.StructType(
        [
            T.StructField(c, right.schema[c].dataType, True)
            for c in right_cols
        ]
    )

    l_num = _ts_micros(F.col(left_ts), left.schema[left_ts].dataType)
    r_num = _ts_micros(F.col(right_ts), right.schema[right_ts].dataType)

    lt = left.where(F.col(left_ts).isNotNull()).select(
        *on,
        l_num.alias("__ts"),
        F.lit(1).alias("__lft"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
        F.lit(None).cast(r_struct_t).alias("__r"),
    )
    rt = right.where(F.col(right_ts).isNotNull()).select(
        *on,
        r_num.alias("__ts"),
        F.lit(0).alias("__lft"),
        F.lit(None).cast(l_struct_t).alias("__l"),
        F.struct(*[F.col(c) for c in right_cols]).alias("__r"),
    )
    u = lt.unionByName(rt)

    tol = _tolerance_in_ts_units(tolerance, left.schema[left_ts].dataType)

    # candidate = (right ts, right struct); NULL on left rows so the
    # running last(ignorenulls) skips them
    cand = F.when(
        F.col("__lft") == 0,
        F.struct(F.col("__ts").alias("__rts"), F.col("__r").alias("__rv")),
    )
    # equal-ts tie order carries the exact-match contract: inclusive
    # bounds need same-instant right rows INSIDE the left row's frame
    # (right first), strict bounds need them outside (left first)
    tie = F.col("__lft").asc() if allow_exact_matches else F.col(
        "__lft"
    ).desc()
    w_back = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").desc(), tie)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def _ok(c: F.Column, dist: F.Column) -> F.Column:
        v = c.isNotNull()
        if tol is not None:
            v = v & (dist <= F.lit(tol))
        return v

    if direction == "backward":
        b = F.last(cand, ignorenulls=True).over(w_back)
        m = F.when(_ok(b, F.col("__ts") - b["__rts"]), b)
    elif direction == "forward":
        f = F.last(cand, ignorenulls=True).over(w_fwd)
        m = F.when(_ok(f, f["__rts"] - F.col("__ts")), f)
    else:
        b = F.last(cand, ignorenulls=True).over(w_back)
        f = F.last(cand, ignorenulls=True).over(w_fwd)
        # distances are non-negative by construction of each window
        dist_b = F.col("__ts") - b["__rts"]
        dist_f = f["__rts"] - F.col("__ts")
        b_ok, f_ok = _ok(b, dist_b), _ok(f, dist_f)
        m = F.when(
            b_ok & (~f_ok | (dist_b <= dist_f)), b
        ).otherwise(F.when(f_ok, f))

    matched = u.select("__lft", "__l", m.alias("__m")).where(
        (F.col("__lft") == 1) & F.col("__m").isNotNull()
    )
    return matched.select(
        *[F.col("__l")[c].alias(c) for c in left.columns],
        *[F.col("__m")["__rv"][c].alias(c) for c in right_cols],
    )
